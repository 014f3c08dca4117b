package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.QualityModel

/** E36 — model-based quality classifier semantics:
  *  - the distilled model recovers the rule battery well above the
  *    majority-class baseline;
  *  - full-batch GD actually descends (loss shrinks front to back);
  *  - margin features predict keep with POSITIVE weights (larger margin
  *    to every rule boundary ⇒ more keepable) — the sign check that
  *    catches a flipped gradient;
  *  - the fit is reproducible within float-sum jitter;
  *  - a planted linearly-separable frame is fit to perfect accuracy.
  */
class QualityModelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val corpusFit =
    QualityModel.fit(QualityModel.featureFrame(spark, TestSpark.sf))

  test("distilled model beats the majority baseline and descends") {
    val labels = QualityModel.featureFrame(spark, TestSpark.sf)
      .select("label").as[Int].collect()
    val majority = math.max(labels.sum, labels.length - labels.sum).toDouble / labels.length
    assert(corpusFit.accuracy >= 0.93, s"accuracy ${corpusFit.accuracy}")
    assert(corpusFit.accuracy > majority, s"acc ${corpusFit.accuracy} <= baseline $majority")
    assert(corpusFit.losses.last < corpusFit.losses.head * 0.8,
      s"loss did not descend: ${corpusFit.losses.head} -> ${corpusFit.losses.last}")
  }

  test("the firing rule's margin weight is positive") {
    // at this SF only the stopword rule ever fires, so stop_ratio is the
    // separating feature; the others are (near-)constant and ride the
    // ridge at ~0 — asserting their sign would assert noise
    assert(corpusFit.weights(3) > 0,
      s"weights ${corpusFit.weights.mkString(",")}")
  }

  test("fit is reproducible") {
    val again = QualityModel.fit(QualityModel.featureFrame(spark, TestSpark.sf))
    corpusFit.weights.zip(again.weights).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"$a vs $b")
    }
    assert(math.abs(corpusFit.bias - again.bias) < 1e-9)
  }

  test("planted separable data is fit to perfect accuracy") {
    // label = 1 iff m_words > 0; other features are noise-free constants
    val rows = (0 until 80).map { i =>
      val m = if (i % 2 == 0) 3.0 + (i % 7) else -3.0 - (i % 5)
      (i.toLong, m, 1.0, 1.0, 0.5, if (m > 0) 1 else 0)
    }
    val df = rows.toDF("doc_id", "m_words", "m_wlen", "m_sym", "stop_ratio", "label")
    val f = QualityModel.fit(df, iters = 10)
    assert(f.accuracy == 1.0, s"accuracy ${f.accuracy}")
    assert(f.weights(0) > 0)
  }

  test("entry scores every document deterministically") {
    val out = QualityModel.qualityModel(spark, TestSpark.sf)
    val rows = out.collect()
    assert(rows.length == 500)
    // agreement rate with the rule battery matches the fit's accuracy class
    val agree = rows.count(r => r.getInt(2) == r.getInt(3)).toDouble / rows.length
    assert(agree >= 0.93, s"agreement $agree")
  }

  test("the fitted model is a scratch-root artifact that a second call reuses") {
    val scratch = java.nio.file.Files.createTempDirectory("graft-qmodel-scratch")
    def artifacts = scratch.toFile.listFiles().map(_.getName)
      .filter(n => n.startsWith("qmodel-v2-") && n.endsWith(".txt")).toSeq
    def jobs(body: => Unit): Int = {
      val sc = spark.sparkContext
      val group = s"qmodel-${System.nanoTime()}"
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    val previous = spark.conf.getOption(graft.sources.Scratch.confKey)
    spark.conf.set(graft.sources.Scratch.confKey, scratch.toString)
    try {
      var cold, warm: Array[org.apache.spark.sql.Row] = null
      val coldJobs = jobs { cold = QualityModel.qualityModel(spark, TestSpark.sf).collect() }
      val Seq(name) = artifacts
      val written = java.nio.file.Files.getLastModifiedTime(scratch.resolve(name))
      val warmJobs = jobs { warm = QualityModel.qualityModel(spark, TestSpark.sf).collect() }
      assert(artifacts == Seq(name))
      assert(java.nio.file.Files.getLastModifiedTime(scratch.resolve(name)) == written)
      // the cold call's extra jobs are the fit's Newton rounds
      assert(warmJobs < coldJobs, s"warm $warmJobs vs cold $coldJobs jobs")
      assert(warm.toSeq == cold.toSeq)
    } finally previous.fold(spark.conf.unset(graft.sources.Scratch.confKey))(
      spark.conf.set(graft.sources.Scratch.confKey, _))
  }

  test("isotonic calibration: minimax fit equals a classic stack-PAV replica (E128)") {
    val rows = QualityModel.isotonicCalibration(spark, TestSpark.sf).collect()
      .sortBy(_.getAs[Long]("bin"))
    assert(rows.length == 20)
    // classic sequential pool-adjacent-violators over exact fractions
    case class Block(pos: Long, n: Long)
    var stack = List.empty[Block]
    rows.foreach { r =>
      var b = Block(r.getAs[Long]("pos_b"), r.getAs[Long]("n_b"))
      // merge while the new block's rate is BELOW the stack top's
      while (stack.nonEmpty && b.pos * stack.head.n < stack.head.pos * b.n) {
        b = Block(b.pos + stack.head.pos, b.n + stack.head.n)
        stack = stack.tail
      }
      stack ::= b
    }
    // rebuild per-bin expected values: blocks cover whole bins because
    // the rank binning gives every bin the same n_b on this corpus
    val nb = rows.head.getAs[Long]("n_b")
    assert(rows.forall(_.getAs[Long]("n_b") == nb))
    val expected = stack.reverse.flatMap { b =>
      Seq.fill((b.n / nb).toInt)(
        math.floor(b.pos.toDouble / b.n.toDouble * 10000).toLong)
    }
    assert(expected.length == rows.length)
    rows.map(_.getAs[Long]("iso_bp")).zip(expected).foreach {
      case (got, want) => assert(got == want, s"got $got want $want")
    }
    // invariants that hold regardless of equal-bin assumptions
    val iso = rows.map(_.getAs[Long]("iso_bp"))
    assert(iso.zip(iso.tail).forall { case (a, b) => a <= b }, iso.toSeq)
    rows.foreach(r => assert(r.getAs[Long]("iso_bp") >= 0L &&
      r.getAs[Long]("iso_bp") <= 10000L))
  }
}
