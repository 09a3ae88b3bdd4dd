package graft.ann

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.SharedSpark

/** Property pin for the residual-IVFADC scoring chain (r10): centroid
  * assignment → residual → PQ encode (`pqCodeCol` over `residualCol`) →
  * per-(query, cell) LUT (`radcLutArr`) → flat 8-lookup score + |q−c|²
  * constant (`adcScore` + qc2). Against random 64-dim vectors (the real
  * [[SimilarityOps.centroids]] / [[SimilarityOps.pqCodebook]] stand-ins),
  * the Spark-computed ppm-long ADC score of EVERY (query, candidate) pair
  * must equal a naive driver-side recompute that mirrors the oracle's
  * decimal arithmetic — the exactness the DuckDB hash compare of
  * q_ivf_radc_topk rests on, pinned at the kernel level.
  */
object RadcProps extends Properties("radc") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private lazy val spark = SharedSpark.spark

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** DECIMAL(18,6) × 1e6 as a long, HALF_UP — the oracle-side quantization
    * both [[SimilarityOps.adcLutArr]] and [[SimilarityOps.radcLutArr]] pin.
    */
  private def ppm(x: Double): Long =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .underlying.unscaledValue.longValueExact

  private def naiveArgmin(v: Array[Double], cb: IndexedSeq[Array[Double]]): Int = {
    val d = cb.map(c => dot(c, c) - 2.0 * dot(v, c))
    var best = 0; var j = 1
    while (j < d.length) { if (d(j) < d(best)) best = j; j += 1 }
    best
  }

  private val dim = SimilarityOps.Dim
  private val coord = Gen.choose(-0.5, 0.5).map(v => math.rint(v * 64) / 64)
  private val vec: Gen[Array[Double]] = Gen.listOfN(dim, coord).map(_.toArray)

  private val genCase: Gen[(List[Array[Double]], Array[Double])] = for {
    n <- Gen.choose(2, 6)
    corpus <- Gen.listOfN(n, vec)
    q <- vec
  } yield (corpus, q)

  property("spark residual-ADC score (ppm long) = driver recompute, every (query, candidate) pair") =
    forAll(genCase) { case (corpus, qv) =>
      import spark.implicits._
      val cents = SimilarityOps.centroids
      val cb = SimilarityOps.pqCodebook
      val sub = SimilarityOps.PqSubDim
      val corpusDf = corpus.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "v")
      val coded = SimilarityOps
        .withCentroidAssignment(corpusDf, "v", cents)
        .withColumn("r", SimilarityOps.residualCol("v", "centroid_id", cents))
        .select(col("vec_id").as("cid"), col("centroid_id").as("cc"),
          SimilarityOps.pqCodeCol("r").as("rpq"))
      // probe EVERY cell so each candidate scores exactly once
      val q = Seq((1000L, qv)).toDF("qid", "qv")
        .withColumn("qn", expr("dot_arrays(qv, qv)"))
      val plut = SimilarityOps.radcLutArr(
        SimilarityOps.probeCells(q, nprobe = cents.size, cents), cents)
      val got = coded
        .join(broadcast(plut), col("probe") === col("cc"))
        .select(col("cid"),
          (SimilarityOps.adcScore("rpq", "lut") + col("qc2")).as("adc"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      corpus.zipWithIndex.forall { case (v, i) =>
        val cell = naiveArgmin(v, cents)
        val c = cents(cell)
        val r = v.zip(c).map { case (x, y) => x - y }
        val qr = qv.zip(c).map { case (x, y) => x - y }
        val score = (0 until SimilarityOps.PqM).map { m =>
          val rm = r.slice(m * sub, (m + 1) * sub)
          val code = naiveArgmin(rm, cb(m))
          val qrm = qr.slice(m * sub, (m + 1) * sub)
          ppm(dot(cb(m)(code), cb(m)(code)) - 2.0 * dot(qrm, cb(m)(code)))
        }.sum + ppm(dot(qr, qr))
        got(i.toLong) == score
      }
    }
}
