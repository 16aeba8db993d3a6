package graft

import graft.ext.{PqSearch, SimilaritySearch}
import graft.functions.{PqAdcScore, PqCodebooks, PqEncode, PqLut}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Product-quantization specs: bit-equality of the codegen'd
  * expressions against independent driver-side references, exactness
  * of the exhaustive configuration, and recall of the partial
  * (pruning) configuration. */
class PqSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val sf = "/root/testdata/sf0.001"
  private def embeddings = graft.queries.Fixtures.tbl(spark, sf, "embeddings")

  private def collectVecs(n: Int): Array[(Long, Array[Double])] =
    embeddings.limit(n).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)

  private def trainedCodebooks(m: Int = 8, ks: Int = 16): PqCodebooks = {
    val sample = collectVecs(100).map(_._2)
    PqCodebooks.train(sample, dim = sample.head.length, m = m, ks = ks)
  }

  test("pq_lut expression is bit-identical to the driver-side lookup table") {
    val cb = trainedCodebooks()
    val got = embeddings.limit(50)
      .select(col("vec_id"), PqLut(col("embedding"), cb).as("lut"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    for ((id, vec) <- collectVecs(50)) {
      val want = cb.lookupTable(vec)
      assert(got(id).sameElements(want), s"vec_id=$id lut drift")
    }
  }

  test("pq_encode matches an independent nearest-centroid reference") {
    val cb = trainedCodebooks()
    val got = embeddings.limit(50)
      .select(col("vec_id"), PqEncode(col("embedding"), cb).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    for ((id, vec) <- collectVecs(50)) {
      // reference: normalize (multiply by inverse norm, the codegen
      // convention), then per-subspace argmin of squared distance,
      // strict < so ties keep the lower centroid id
      val inv = {
        val n = math.sqrt(vec.map(x => x * x).sum)
        if (n == 0.0) 0.0 else 1.0 / n
      }
      val want = (0 until cb.m).map { j =>
        (0 until cb.ks).minBy { c =>
          val cent = cb.centroid(j, c)
          (0 until cb.dsub).map { d =>
            val x = vec(j * cb.dsub + d) * inv
            val diff = x - cent(d); diff * diff
          }.sum
        }
      }.toArray
      assert(got(id).sameElements(want), s"vec_id=$id code drift")
    }
  }

  test("pq_adc_score is bit-identical to the lut-sum reference") {
    val cb = trainedCodebooks()
    val q = embeddings.where(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), PqLut(col("embedding"), cb).as("lut"))
    val c = embeddings.limit(50)
      .select(col("vec_id").as("c_id"), PqEncode(col("embedding"), cb).as("codes"))
    val rows = c.crossJoin(broadcast(q))
      .select(col("q_id"), col("c_id"), col("codes"), col("lut"),
        PqAdcScore(col("codes"), col("lut"), cb.ks).as("adc"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val codes = r.getSeq[Int](2)
      val lut = r.getSeq[Double](3)
      val want = codes.zipWithIndex.map { case (code, j) => lut(j * cb.ks + code) }.sum
      assert(java.lang.Double.doubleToLongBits(r.getDouble(4)) ==
        java.lang.Double.doubleToLongBits(want),
        s"(q=${r.getLong(0)}, c=${r.getLong(1)}) adc drift")
    }
  }

  test("exhaustive candidateK equals exact brute force") {
    val e = embeddings
    val q = e.where(col("vec_id") < 5)
    val pq = PqSearch.topK(q, PqSearch.buildIndex(e, m = 8, ks = 16),
      k = 10, candidateK = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bf = SimilaritySearch.bruteForceTopK(q, e, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pq == bf)
  }

  test("partial candidateK keeps high recall on the fixture corpus") {
    val e = embeddings
    val q = e.where(col("vec_id") < 20)
    val truth = SimilaritySearch.bruteForceTopK(q, e, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = PqSearch.topK(q, PqSearch.buildIndex(e, m = 8, ks = 16),
      k = 10, candidateK = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & approx).size.toDouble / truth.size
    assert(recall >= 0.6,
      s"ADC candidateK=50 recall@10 $recall — pruning lost the true neighbors")
  }

  test("codebook training is deterministic") {
    val a = trainedCodebooks()
    val b = trainedCodebooks()
    assert(a.flat.sameElements(b.flat))
  }
}
