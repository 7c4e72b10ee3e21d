package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.LinearModel

/** Trained-linear-classifier invariants: partition-order determinism of
  * the CG trainer (the exactSum/dotDec contract), actual CG convergence
  * (the normal-equation residual after 8 steps must be ~0, not just
  * "weights exist"), separation on a planted lexical corpus, the
  * feature-less-doc bias path, the zero-denominator idle guard, and the
  * stream scorer's bit-identity with the batch scorer.
  */
class LinearModelSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  import spark.implicits._

  private val K = 64

  /** 60 docs: every third spam-flavored (y=−1), the rest study-flavored
    * (y=+1), shared filler vocabulary on both.
    */
  private lazy val planted = (0L until 60L).map { i =>
    val filler = s"table row scan merge batch value key part d${i % 5}"
    val tail =
      if (i % 3 == 0) "click buy free winner cash prize now deal"
      else "study method result analysis careful review note"
    (i, s"$filler $tail", if (i % 3 == 0) -1.0 else 1.0)
  }

  private def corpus = planted.toDF("doc_id", "text", "y")

  test("CG weights are identical under repartitioning") {
    val docs = corpus
    val labels = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("y"))
    val f1 = LinearModel.hashedPresenceArrays(docs, K)
    val w1 = LinearModel.trainCgRidgeArrays(f1, labels, K)
    val w2 = LinearModel.trainCgRidgeArrays(f1.repartition(7),
      labels.repartition(3), K)
    assert(w1.toSeq == w2.toSeq) // bit-identical, not approximately
  }

  test("8 CG steps solve the ridge normal equations on this corpus") {
    val docs = corpus
    val labels = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("y"))
    val feats = LinearModel.hashedPresenceArrays(docs, K)
    val w = LinearModel.trainCgRidgeArrays(feats, labels, K, iterations = 8,
      lambda = 0.01)
    // rebuild the dense system locally and check ||(X'X/n + λI)w − X'y/n||∞
    val rows = feats.join(labels, Seq("doc_id"))
      .select(col("doc_id"), explode(col("bs")).as("bucket"), col("y"))
      .as[(Long, Int, Double)].collect()
    val docsIdx = rows.map(_._1).distinct.sorted
    val yMap = rows.map(r => r._1 -> r._3).toMap
    val x = docsIdx.map { d =>
      val v = new Array[Double](K + 1)
      rows.filter(_._1 == d).foreach(r => v(r._2) = 1.0)
      v(K) = 1.0
      v
    }
    val n = docsIdx.length.toDouble
    val resid = Array.tabulate(K + 1) { j =>
      var hw = 0.0
      var bj = 0.0
      x.zip(docsIdx).foreach { case (v, d) =>
        val xw = v.zip(w).map { case (a, b) => a * b }.sum
        hw += v(j) * xw
        bj += v(j) * yMap(d)
      }
      math.abs(hw / n + 0.01 * w(j) - bj / n)
    }
    // the decimal(38,10) grid quantizes every distributed sum and CG
    // scalar, so convergence floors near the grid, not machine epsilon:
    // measured ~2e-6 here vs ||b||∞ ≈ 0.5 — solved for every consumer
    assert(resid.max < 1e-4, s"normal-equation residual ${resid.max}")
  }

  test("held-out accuracy 1.0 on the planted corpus, beats majority") {
    val docs = corpus
    val labels = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("y"))
    val feats = LinearModel.hashedPresenceArrays(docs, K)
    val w = LinearModel.trainCgRidgeArrays(feats, labels, K)
    val tst = docs.filter(col("doc_id") % 2 === 1)
    val scored = LinearModel.scoreArrays(feats, w)
      .join(tst.select(col("doc_id"), col("y")), Seq("doc_id"))
      .select(col("pred"), (col("y") > 0).cast("int").as("truth"))
      .as[(Int, Int)].collect()
    val acc = scored.count(p => p._1 == p._2).toDouble / scored.length
    val maj = math.max(scored.count(_._2 == 1), scored.count(_._2 == 0))
      .toDouble / scored.length
    assert(acc == 1.0 && maj < 0.75, s"acc $acc majority $maj")
  }

  test("feature-less docs score exactly the bias") {
    val docs = Seq((0L, "alpha beta", 1.0), (1L, "", -1.0),
      (2L, "alpha gamma", 1.0), (3L, "", -1.0)).toDF("doc_id", "text", "y")
    // docs 1 and 3 have no feature row: they train as the empty bucket
    // set, and a null bucket array scores as the bias alone
    val feats = LinearModel.hashedPresenceArrays(docs, K)
      .filter(col("doc_id") =!= 1L && col("doc_id") =!= 3L)
    val labels = docs.select(col("doc_id"), col("y"))
    val w = LinearModel.trainCgRidgeArrays(feats, labels, K, iterations = 4)
    val s = LinearModel.scoreArrays(
        Seq(1L).toDF("doc_id").withColumn("bs", lit(null).cast("array<int>")),
        w)
      .select(col("score")).as[Double].head()
    assert(s == w(K))
  }

  test("degenerate system (b = 0) idles at w = 0 instead of dividing by zero") {
    // two docs, identical features, opposite labels: every bucket cell of
    // X'y is 0 and so is the bias cell -> r0 = p0 = 0, ps = rr = 0
    val docs = Seq((0L, "same text here", 1.0), (1L, "same text here", -1.0))
      .toDF("doc_id", "text", "y")
    val w = LinearModel.trainCgRidgeArrays(
      LinearModel.hashedPresenceArrays(docs, K),
      docs.select(col("doc_id"), col("y")), K)
    assert(w.forall(_ == 0.0))
  }

  test("localScorer reproduces the batch score bit for bit") {
    val docs = corpus
    val labels = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("y"))
    val feats = LinearModel.hashedPresenceArrays(docs, K)
    val w = LinearModel.trainCgRidgeArrays(feats, labels, K, iterations = 4)
    val batch = LinearModel.scoreArrays(feats, w)
      .select(col("doc_id"), col("score")).as[(Long, Double)].collect().toMap
    val scorer = LinearModel.localScorer(w)
    planted.foreach { case (id, text, _) =>
      assert(scorer(text) == batch(id), s"doc $id") // ==, not approx
    }
  }

  test("localScorer rounds a .5 grid-boundary weight like scoreArrays") {
    // the double nearest 1.5e-10 sits just below it: its exact binary
    // expansion rounds HALF_UP to 1e-10 at scale 10, its shortest decimal
    // form (what Spark's double->decimal cast and the batch fold use)
    // to 2e-10
    val w = Array.fill(K)(1.5e-10) :+ 0.0
    val batch = LinearModel.scoreArrays(
        LinearModel.hashedPresenceArrays(corpus, K), w)
      .select(col("doc_id"), col("score")).as[(Long, Double)].collect().toMap
    val scorer = LinearModel.localScorer(w)
    planted.foreach { case (id, text, _) =>
      assert(scorer(text) == batch(id), s"doc $id") // ==, not approx
    }
  }

  test("dotDec quantizes to the decimal(38,10) grid") {
    val a = Array(1.0, 2.0)
    val b = Array(1e-11, 1.0) // first product rounds to 0 on the grid
    assert(LinearModel.dotDec(a, b) == 2.0)
  }
}
