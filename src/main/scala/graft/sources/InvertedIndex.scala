package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted positional inverted index (SURVEY §2 C50) — the storage
  * structure OpenSearch itself is built on (Lucene segments: term →
  * postings with positions), re-expressed as parquet laid out so a
  * term probe reads POSTING-LIST-sized data, not bucket-sized data.
  *
  * Layout: one row per (token, doc) holding tf and the sorted position
  * list. Rows land in `tb = crc32(token) % 16` partition directories
  * (directory-level pruning), and WITHIN each bucket the build range-
  * partitions and sorts rows by (token, doc_id) before the write, with
  * a bounded parquet row-group size. That ordering is what makes the
  * index an index: every row group's footer carries a tight token
  * min/max, so a probe's pushed `token = term` predicate skips all row
  * groups (and, via the parquet page index, all pages) whose range
  * excludes the term. Read cost per probe = one pruned directory
  * listing + footer metadata + only the row groups overlapping the
  * term — O(posting list), independent of corpus size. The bucket
  * count is a partition-pruning/listing knob, NOT a read-amplification
  * bound (the round-5 layout had no intra-bucket order, so a probe
  * scanned 1/16 of the index forever; InvertedIndexSpec now asserts
  * sub-bucket pruning on scan-output rows).
  *
  * Build cost at 100 TB: one token shuffle (same cost class as E17's
  * TF-IDF pass), paid ONCE — queries memoize the build per data generation
  * (`ensureIndex`) exactly as a deployed pipeline builds once and
  * probes many times.
  */
object InvertedIndex {

  val nTokenBuckets = 16

  /** Bounded row-group size for the index write: probes read whole row
    * groups, so smaller groups = finer pruning. 8 MB trades a little
    * full-scan throughput (irrelevant for an index) for probe reads
    * bounded near the posting-list size even inside huge buckets.
    */
  val defaultRowGroupBytes: Long = 8L << 20

  def tokenBucket(token: Column): Column = pmod(crc32(token), lit(nTokenBuckets))

  /** Driver-side replica of `tokenBucket` for literal probe predicates. */
  def bucketOf(term: String): Long = {
    val c = new java.util.zip.CRC32()
    c.update(term.getBytes("UTF-8"))
    java.lang.Math.floorMod(c.getValue, nTokenBuckets.toLong)
  }

  /** Build (or rebuild) the index for a documents table.
    *
    * `repartitionByRange(tb, token)` gives each output file a disjoint
    * token range inside its bucket; `sortWithinPartitions` orders rows
    * so row-group min/max stats are tight runs, which is what the
    * probe's predicate pushdown prunes on.
    */
  def build(spark: SparkSession, docs: DataFrame, indexPath: String,
            rowGroupBytes: Long = defaultRowGroupBytes): Unit = {
    val parts = math.max(spark.sparkContext.defaultParallelism, nTokenBuckets)
    Tables.atComputeParallelism(docs)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"), sort_array(collect_list(col("pos"))).as("positions"))
      .withColumn("tb", tokenBucket(col("token")))
      .repartitionByRange(parts, col("tb"), col("token"))
      .sortWithinPartitions(col("tb"), col("token"), col("doc_id"))
      .write.mode("overwrite")
      .option("parquet.block.size", rowGroupBytes)
      .partitionBy("tb").parquet(indexPath)
  }

  /** Posting list for one term — partition-pruned by the literal
    * bucket, then row-group/page-pruned by the pushed token predicate
    * against the sorted layout.
    */
  def postings(spark: SparkSession, indexPath: String, term: String): DataFrame =
    Parquet.read(spark, indexPath)
      .filter(col("tb") === bucketOf(term) && col("token") === term)

  /** Build-once-probe-many ([[Scratch.ensure]]): only the first
    * invocation per data generation pays the token shuffle; every later
    * one is probe-only — the deployment shape, and what the benchmark
    * should be timing. The name carries a layout version so an index
    * persisted by an older build (unsorted row groups) is never mistaken
    * for the current format.
    */
  def ensureIndex(spark: SparkSession, dir: String): String =
    Scratch.ensure(spark, "invidx-v2", dir, "documents.parquet")(
      build(spark, Tables.documents(spark, dir), _))

  /** C50a — term query through the index (memoized build + probe). */
  def searchIndexed(spark: SparkSession, dir: String, term: String = "spark"): DataFrame = {
    val path = ensureIndex(spark, dir)
    postings(spark, path, term)
      .select(col("doc_id"), col("tf"))
      .orderBy(col("doc_id"))
  }

  val searchIndexedSql: String =
    """SELECT doc_id, count(*) AS tf
      |FROM documents, unnest(string_split(text, ' ')) AS t(tok)
      |WHERE tok = 'spark'
      |GROUP BY 1
      |ORDER BY doc_id""".stripMargin

  /** C50b — positional phrase query ("hash join" as ADJACENT tokens):
    * both terms' postings are pruned reads; adjacency is an array
    * intersect of (positions(t1)+1) with positions(t2) — the classic
    * positional-posting merge, join keyed on doc_id only for docs
    * containing BOTH terms.
    */
  def searchPhrase(spark: SparkSession, dir: String,
                   t1: String = "hash", t2: String = "join"): DataFrame = {
    val path = ensureIndex(spark, dir)
    val p1 = postings(spark, path, t1).select(col("doc_id"), col("positions").as("p1"))
    val p2 = postings(spark, path, t2).select(col("doc_id"), col("positions").as("p2"))
    p1.join(p2, "doc_id")
      .withColumn("n_occ",
        size(array_intersect(transform(col("p1"), x => x + 1), col("p2"))).cast("long"))
      .filter(col("n_occ") > 0)
      .select(col("doc_id"), col("n_occ"))
      .orderBy(col("doc_id"))
  }

  val searchPhraseSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      |SELECT doc_id,
      |  CAST(len(list_filter(range(1, len(ws)), i -> ws[i] = 'hash' AND ws[i+1] = 'join')) AS BIGINT) AS n_occ
      |FROM toks
      |WHERE len(list_filter(range(1, len(ws)), i -> ws[i] = 'hash' AND ws[i+1] = 'join')) > 0
      |ORDER BY doc_id""".stripMargin

  /** C50c — span_near (OpenSearch span_near / intervals query): the
    * two terms within `slop` positions, in order — the generalization
    * of the phrase query's adjacency. Same two pruned posting reads +
    * doc_id join; the span count folds over the position lists with a
    * higher-order aggregate (codegen'd array kernel, no explode):
    * n_span = Σ_{x∈p1} |{y∈p2 : x < y ≤ x+slop}|.
    */
  def searchNear(spark: SparkSession, dir: String,
                 t1: String = "hash", t2: String = "join", slop: Int = 3): DataFrame = {
    val path = ensureIndex(spark, dir)
    val p1 = postings(spark, path, t1).select(col("doc_id"), col("positions").as("p1"))
    val p2 = postings(spark, path, t2).select(col("doc_id"), col("positions").as("p2"))
    p1.join(p2, "doc_id")
      .withColumn("n_span",
        aggregate(col("p1"), lit(0),
          (acc, x) => acc + size(filter(col("p2"), y => y > x && y <= x + slop)))
          .cast("long"))
      .filter(col("n_span") > 0)
      .select(col("doc_id"), col("n_span"))
      .orderBy(col("doc_id"))
  }

  /** Replica recomputes positions from the text (1-based; the constant
    * shift cancels in the distance test).
    */
  val searchNearSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |pos AS (
      |  SELECT doc_id,
      |    list_filter(range(1, len(ws) + 1), i -> ws[i] = 'hash') AS p1,
      |    list_filter(range(1, len(ws) + 1), i -> ws[i] = 'join') AS p2
      |  FROM toks)
      |SELECT doc_id,
      |  CAST(coalesce(list_sum(list_transform(p1,
      |    x -> len(list_filter(p2, y -> y > x AND y <= x + 3)))), 0) AS BIGINT) AS n_span
      |FROM pos
      |WHERE CAST(coalesce(list_sum(list_transform(p1,
      |    x -> len(list_filter(p2, y -> y > x AND y <= x + 3)))), 0) AS BIGINT) > 0
      |ORDER BY doc_id""".stripMargin

  /** C50g — span_near with `in_order: false` (the intervals query's
    * unordered mode: the two terms within `slop` positions in EITHER
    * order — "error near timeout", whichever came first). Same two
    * pruned posting reads + doc_id join as C50c; the fold counts
    * |x−y| ≤ slop with x≠y instead of the ordered window.
    */
  def searchNearUnordered(spark: SparkSession, dir: String,
                          t1: String = "hash", t2: String = "join",
                          slop: Int = 3): DataFrame = {
    val path = ensureIndex(spark, dir)
    val p1 = postings(spark, path, t1).select(col("doc_id"), col("positions").as("p1"))
    val p2 = postings(spark, path, t2).select(col("doc_id"), col("positions").as("p2"))
    p1.join(p2, "doc_id")
      .withColumn("n_span",
        aggregate(col("p1"), lit(0),
          (acc, x) => acc + size(filter(col("p2"), y => y =!= x && abs(y - x) <= slop)))
          .cast("long"))
      .filter(col("n_span") > 0)
      .select(col("doc_id"), col("n_span"))
      .orderBy(col("doc_id"))
  }

  val searchNearUnorderedSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |pos AS (
      |  SELECT doc_id,
      |    list_filter(range(1, len(ws) + 1), i -> ws[i] = 'hash') AS p1,
      |    list_filter(range(1, len(ws) + 1), i -> ws[i] = 'join') AS p2
      |  FROM toks)
      |SELECT doc_id,
      |  CAST(coalesce(list_sum(list_transform(p1,
      |    x -> len(list_filter(p2, y -> y <> x AND abs(y - x) <= 3)))), 0) AS BIGINT) AS n_span
      |FROM pos
      |WHERE CAST(coalesce(list_sum(list_transform(p1,
      |    x -> len(list_filter(p2, y -> y <> x AND abs(y - x) <= 3)))), 0) AS BIGINT) > 0
      |ORDER BY doc_id""".stripMargin

  /** C50h — span_not (OpenSearch `span_not` with pre/post distance:
    * keep occurrences of the include span NOT near the exclude span —
    * the "join but not hash join" query). One pruned posting read per
    * term, LEFT join on doc_id (a doc without the exclude term keeps
    * every occurrence), and the subtraction is a higher-order
    * filter/exists over the two position lists — no explode, cost
    * identical to C50c's near fold.
    */
  def searchSpanNot(spark: SparkSession, dir: String,
                    include: String = "join", exclude: String = "hash",
                    pre: Int = 1, post: Int = 1): DataFrame = {
    val path = ensureIndex(spark, dir)
    val p1 = postings(spark, path, include).select(col("doc_id"), col("positions").as("p1"))
    val p2 = postings(spark, path, exclude).select(col("doc_id"), col("positions").as("p2"))
    p1.join(p2, Seq("doc_id"), "left")
      .withColumn("p2c", coalesce(col("p2"), lit(Array.empty[Int])))
      .withColumn("n_kept",
        size(filter(col("p1"), x =>
          !exists(col("p2c"), y => y >= x - pre && y <= x + post)))
          .cast("long"))
      .filter(col("n_kept") > 0)
      .select(col("doc_id"), col("n_kept"))
      .orderBy(col("doc_id"))
  }

  val searchSpanNotSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |pos AS (
      |  SELECT doc_id,
      |    list_filter(range(1, len(ws) + 1), i -> ws[i] = 'join') AS p1,
      |    list_filter(range(1, len(ws) + 1), i -> ws[i] = 'hash') AS p2
      |  FROM toks)
      |SELECT doc_id,
      |  CAST(len(list_filter(p1, x ->
      |    len(list_filter(p2, y -> y >= x - 1 AND y <= x + 1)) = 0)) AS BIGINT) AS n_kept
      |FROM pos
      |WHERE len(p1) > 0
      |  AND CAST(len(list_filter(p1, x ->
      |    len(list_filter(p2, y -> y >= x - 1 AND y <= x + 1)) = 0)) AS BIGINT) > 0
      |ORDER BY doc_id""".stripMargin

  /** C50e — span_first (OpenSearch `span_first`: match only when the
    * span lies within the first `end` positions of the field — "error
    * mentioned in the opening words", the lead-paragraph query). One
    * pruned posting read; the boundary test is a higher-order filter
    * over the position list — no explode, no second read — and the
    * reported first hit is the list's minimum, exact because the build
    * stores positions sorted. Cost is identical to C50a's term probe
    * at any corpus size.
    */
  def searchSpanFirst(spark: SparkSession, dir: String,
                      term: String = "spark", end: Int = 5): DataFrame = {
    val path = ensureIndex(spark, dir)
    postings(spark, path, term)
      .withColumn("n_lead", size(filter(col("positions"), p => p < end)).cast("long"))
      .filter(col("n_lead") > 0)
      .select(col("doc_id"), element_at(col("positions"), 1).cast("long").as("first_pos"),
        col("n_lead"))
      .orderBy(col("doc_id"))
  }

  /** Replica recomputes 0-based positions from the text (range is
    * 1-based, so the -1 shift restores the engine's base).
    */
  val searchSpanFirstSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |pos AS (
      |  SELECT doc_id,
      |    list_transform(list_filter(range(1, len(ws) + 1), i -> ws[i] = 'spark'),
      |                   i -> i - 1) AS p
      |  FROM toks)
      |SELECT doc_id, CAST(p[1] AS BIGINT) AS first_pos,
      |  CAST(len(list_filter(p, x -> x < 5)) AS BIGINT) AS n_lead
      |FROM pos
      |WHERE len(list_filter(p, x -> x < 5)) > 0
      |ORDER BY doc_id""".stripMargin

  /** C51 — completion/term suggester: top-k index terms for a query-bar
    * prefix, weighted by document frequency (what OpenSearch's term and
    * completion suggesters read from the terms dictionary).
    *
    * The prefix can't ride the crc32 bucket (hashing scatters a prefix
    * family across buckets), but it doesn't need to: Catalyst turns
    * `startsWith` into a `StringStartsWith` data-source filter pushed
    * into every bucket's scan, and the token-sorted row groups mean
    * each file serves the probe from only the groups whose min/max
    * range overlaps the prefix — a terms-dictionary-sized read, not an
    * index scan (InvertedIndexSpec asserts both the pushed filter and
    * the row pruning). df aggregates posting rows per token: exact,
    * one tiny shuffle over the pruned rows only.
    */
  def suggestPrefix(spark: SparkSession, dir: String,
                    prefix: String = "s", k: Int = 5): DataFrame = {
    val path = ensureIndex(spark, dir)
    Parquet.read(spark, path)
      .filter(col("token").startsWith(prefix))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"))
      .orderBy(col("df").desc, col("token"))
      .limit(k)
  }

  val suggestPrefixSql: String =
    """WITH tf AS (
      |  SELECT doc_id, tok AS token, count(*) AS tf
      |  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
      |  WHERE tok LIKE 's%'
      |  GROUP BY 1, 2)
      |SELECT token, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
      |FROM tf GROUP BY token
      |ORDER BY df DESC, token
      |LIMIT 5""".stripMargin

  /** C50f — leading-wildcard (suffix) search via a REVERSED-token
    * index arm — Lucene/OpenSearch's `reverse` subfield trick: a
    * `*dow` query cannot prune a token-sorted layout (the matching
    * tokens scatter across the dictionary), so the engine indexes
    * `reverse(token)` too and rewrites the leading wildcard into a
    * PREFIX probe on the reversed field, which pushes as an ordinary
    * `StringStartsWith` over reversed-token-sorted row groups. The
    * reversed arm is its own memoized build, under its own name;
    * probes read dictionary-range-sized data at any corpus size.
    */
  def ensureReverseIndex(spark: SparkSession, dir: String): String =
    Scratch.ensure(spark, "invidx-rev-v1", dir, "documents.parquet") { path =>
      val parts = math.max(spark.sparkContext.defaultParallelism, nTokenBuckets)
      Tables.atComputeParallelism(Tables.documents(spark, dir))
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
        .withColumn("token_rev", reverse(col("token")))
        .withColumn("rb", tokenBucket(col("token_rev")))
        .repartitionByRange(parts, col("rb"), col("token_rev"))
        .sortWithinPartitions(col("rb"), col("token_rev"), col("doc_id"))
        .write.mode("overwrite")
        .option("parquet.block.size", defaultRowGroupBytes)
        .partitionBy("rb").parquet(path)
    }

  /** C50f entry — `*<suffix>` search: per matching token, document
    * frequency and total term frequency (the dictionary view a
    * leading-wildcard query resolves to before fetching postings).
    */
  def searchSuffix(spark: SparkSession, dir: String,
                   suffix: String = "dow"): DataFrame = {
    val path = ensureReverseIndex(spark, dir)
    Parquet.read(spark, path)
      .filter(col("token_rev").startsWith(suffix.reverse))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"))
      .orderBy(col("token"))
  }

  val searchSuffixSql: String =
    """WITH tf AS (
      |  SELECT doc_id, tok AS token, count(*) AS tf
      |  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
      |  WHERE tok LIKE '%dow'
      |  GROUP BY 1, 2)
      |SELECT token, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
      |FROM tf GROUP BY token
      |ORDER BY token""".stripMargin

  /** C50d — match_phrase_prefix ("hash jo…": a phrase whose LAST term
    * is a prefix — the search-as-you-type query). First term = one
    * bucket-pruned posting read (C50a); prefix term = a pushed
    * `StringStartsWith` probe (C51's layout win: token-sorted row
    * groups prune the prefix range inside every bucket); adjacency =
    * C50b's position fold per (doc, completed token). Returns which
    * completion matched where — the hit list Discover renders while
    * typing.
    */
  def searchPhrasePrefix(spark: SparkSession, dir: String,
                         t1: String = "hash", prefix: String = "jo"): DataFrame = {
    val path = ensureIndex(spark, dir)
    val p1 = postings(spark, path, t1).select(col("doc_id"), col("positions").as("p1"))
    val p2 = Parquet.read(spark, path)
      .filter(col("token").startsWith(prefix))
      .select(col("doc_id"), col("token").as("completion"), col("positions").as("p2"))
    p1.join(p2, "doc_id")
      .withColumn("n_occ",
        aggregate(col("p1"), lit(0), (acc, x) =>
          acc + when(array_contains(col("p2"), x + 1), 1).otherwise(0)).cast("long"))
      .filter(col("n_occ") > 0)
      .select(col("doc_id"), col("completion"), col("n_occ"))
      .orderBy(col("doc_id"), col("completion"))
  }

  val searchPhrasePrefixSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |hits AS (
      |  SELECT doc_id, ws[i+1] AS completion
      |  FROM toks, unnest(list_filter(range(1, len(ws)),
      |    i -> ws[i] = 'hash' AND ws[i+1] LIKE 'jo%')) AS t(i))
      |SELECT doc_id, completion, count(*) AS n_occ
      |FROM hits
      |GROUP BY doc_id, completion
      |ORDER BY doc_id, completion""".stripMargin

  /** C51b — term suggester ("did you mean"): dictionary terms within
    * edit distance `maxDist` of a misspelled term, ranked by distance
    * then document frequency — OpenSearch's term suggester over the
    * terms dictionary. The length-window pre-filter (|len(token) −
    * len(term)| ≤ maxDist, a necessary condition for the edit bound)
    * prunes the dictionary scan before any DP runs — the standard
    * candidate cut fuzzy matching uses when no n-gram index exists;
    * levenshtein then runs only on survivors, and df aggregates only
    * their posting rows.
    */
  def suggestFuzzy(spark: SparkSession, dir: String,
                   term: String = "jion", maxDist: Int = 2, k: Int = 5): DataFrame = {
    val path = ensureIndex(spark, dir)
    Parquet.read(spark, path)
      .filter(abs(length(col("token")) - term.length) <= maxDist &&
        col("token") =!= term &&
        levenshtein(col("token"), lit(term)) <= maxDist)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
      .withColumn("dist", levenshtein(col("token"), lit(term)).cast("long"))
      .select(col("token"), col("dist"), col("df"))
      .orderBy(col("dist"), col("df").desc, col("token"))
      .limit(k)
  }

  val suggestFuzzySql: String =
    """WITH tf AS (
      |  SELECT doc_id, tok AS token
      |  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
      |  WHERE abs(len(tok) - 4) <= 2 AND tok <> 'jion' AND levenshtein(tok, 'jion') <= 2
      |  GROUP BY doc_id, tok)
      |SELECT token, CAST(levenshtein(token, 'jion') AS BIGINT) AS dist, count(*) AS df
      |FROM tf GROUP BY token
      |ORDER BY dist, df DESC, token
      |LIMIT 5""".stripMargin

  /** C51c — phrase suggester ("did you mean" for a whole phrase):
    * candidate corrections for each word (C51b's length-window +
    * levenshtein cut over the terms dictionary), with candidate PAIRS
    * ranked by how often they actually occur ADJACENT in the corpus —
    * the real-bigram evidence OpenSearch's phrase suggester gets from
    * its bigram ("shingle") field, served here from the positional
    * index: the pair frequency is C50b's adjacency fold over the two
    * candidates' position lists.
    *
    * Two-step probe shape: the candidate sets are collected first
    * (BOUNDED: dictionary terms within maxDist edits of one word —
    * dozens of rows; the after_key pattern), so the posting read is a
    * single literal `tb IN (...) AND token IN (...)` probe that
    * partition- and row-group-prunes exactly like a hand-written term
    * probe. Without the collect the candidate join would full-scan the
    * index — the literal probe IS the scalable deployment shape.
    */
  def suggestPhrase(spark: SparkSession, dir: String,
                    w1: String = "hash", w2: String = "jion",
                    maxDist: Int = 2, k: Int = 3,
                    maxCandidates: Int = 10000): DataFrame = {
    val path = ensureIndex(spark, dir)
    val idx = Parquet.read(spark, path)
    // The collect is bounded by the edit-distance neighborhood of one
    // word in the terms dictionary — dozens of rows in practice. The
    // explicit cap (mirror of Dedup.smallGraphMaxEdges) turns a
    // pathological dictionary (e.g. maxDist raised on a web-scale
    // vocabulary) into a clear error instead of a silent driver OOM.
    def candidates(w: String): Array[(String, Long)] = {
      val c = idx.filter(abs(length(col("token")) - w.length) <= maxDist &&
          levenshtein(col("token"), lit(w)) <= maxDist)
        .select(col("token"),
          levenshtein(col("token"), lit(w)).cast("long").as("d"))
        .distinct().limit(maxCandidates + 1).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      require(c.length <= maxCandidates,
        s"suggestPhrase: >$maxCandidates correction candidates for " +
          s"'$w' (maxDist=$maxDist) — tighten maxDist or raise maxCandidates")
      c
    }
    def probe(cand: Array[(String, Long)], tokAs: String, dAs: String): DataFrame = {
      import spark.implicits._
      val lookup = broadcast(cand.toSeq.toDF(tokAs, dAs))
      idx.filter(col("tb").isin(cand.map(c => bucketOf(c._1)).distinct.toSeq: _*) &&
          col("token").isin(cand.map(_._1).toSeq: _*))
        .join(lookup, col("token") === col(tokAs))
        .select(col("doc_id"), col("positions"), col(tokAs), col(dAs))
    }
    val (c1, c2) = (candidates(w1), candidates(w2))
    if (c1.isEmpty || c2.isEmpty) {
      import spark.implicits._
      return Seq.empty[(String, Long, Long)].toDF("phrase", "dist", "freq")
    }
    val p1 = probe(c1, "t1", "d1").withColumnRenamed("positions", "p1")
    val p2 = probe(c2, "t2", "d2").withColumnRenamed("positions", "p2")
    p1.join(p2, "doc_id")
      .withColumn("n_occ",
        aggregate(col("p1"), lit(0), (acc, x) =>
          acc + when(array_contains(col("p2"), x + 1), 1).otherwise(0)))
      .groupBy(col("t1"), col("d1"), col("t2"), col("d2"))
      .agg(sum(col("n_occ")).as("freq"))
      .filter(col("freq") > 0)
      .select(concat(col("t1"), lit(" "), col("t2")).as("phrase"),
        (col("d1") + col("d2")).as("dist"), col("freq"))
      .orderBy(col("dist"), col("freq").desc, col("phrase"))
      .limit(k)
  }

  val suggestPhraseSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |dict AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS token FROM documents),
      |c1 AS (SELECT token AS t1, CAST(levenshtein(token, 'hash') AS BIGINT) AS d1
      |  FROM dict WHERE abs(len(token) - 4) <= 2 AND levenshtein(token, 'hash') <= 2),
      |c2 AS (SELECT token AS t2, CAST(levenshtein(token, 'jion') AS BIGINT) AS d2
      |  FROM dict WHERE abs(len(token) - 4) <= 2 AND levenshtein(token, 'jion') <= 2),
      |big AS (
      |  SELECT t1, d1, t2, d2,
      |    CAST(sum(len(list_filter(range(1, len(ws)), i -> ws[i] = t1 AND ws[i+1] = t2))) AS BIGINT) AS freq
      |  FROM toks CROSS JOIN c1 CROSS JOIN c2
      |  GROUP BY 1, 2, 3, 4)
      |SELECT concat(t1, ' ', t2) AS phrase, dist, freq
      |FROM (SELECT *, d1 + d2 AS dist FROM big WHERE freq > 0)
      |ORDER BY dist, freq DESC, phrase
      |LIMIT 3""".stripMargin
}
