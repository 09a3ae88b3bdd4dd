package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Builder-side per-stage attribution for the IVF/ADC serving family
  * (VERDICT r16 #7): times each stage of [[SimilarityOps.ivfAdcTopK]]'s
  * pipeline separately — PLAN time (analysis+optimization+physical planning,
  * forced via `executedPlan`) vs EXECUTE time (noop sink) — so "which stage
  * dominates" is decided by measurement, not guesswork. The PQ-encode
  * expression tree is the known Catalyst stressor (72 derived columns; see
  * build.sbt's -Xss note), so planning cost is reported per stage.
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, ROUNDS.
  */
object AdcProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val rounds = sys.env.getOrElse("ROUNDS", "3").toInt
    val spark = graft.GraftSession.create("graft-adcprofile")
    graft.CatalogBench.warmUp(spark, sfDir)

    import SimilarityOps._
    val nQueries = 10
    val nprobe = 2
    val rerank = AdcRerank

    // stage frames, mirroring ivfAdcTopK's body
    def e() = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    def assigned() = withCentroidAssignment(e(), "v")
    def coded() = withPqCodes(assigned(), "v", "pq")
      .select(col("vec_id").as("cid"), col("centroid_id").as("cc"), col("pq"))
    def q() = withNorm(
      Tables.embeddings(spark, sfDir).filter(col("vec_id") < nQueries), "qid", "qv", "qn")
    def probes() = probeCells(q(), nprobe)
    def lut() = adcLutArr(q().select(col("qid"), col("qv")), "qid", "qv")
    def adc() = coded()
      .join(broadcast(probes().select("qid", "probe")),
        col("probe") === col("cc") && col("qid") =!= col("cid"))
      .join(broadcast(lut()), "qid")
      .select(col("qid"), col("cid"), adcScore("pq", "lut").as("adc"))
    def pool() = {
      val wAdc = Window.partitionBy("qid").orderBy(asc("adc"), asc("cid"))
      adc().withColumn("prn", row_number().over(wAdc))
        .filter(col("prn") <= rerank)
        .select(col("qid").as("pqid"), col("cid").as("pcid"))
    }
    def full() = {
      val fullE = withNorm(Tables.embeddings(spark, sfDir), "vec_id", "v", "nn")
      val w = Window.partitionBy("qid").orderBy(desc("cos"), asc("cid"))
      fullE
        .join(broadcast(pool()), col("vec_id") === col("pcid"))
        .join(broadcast(q().select(col("qid"), col("qv"), col("qn"))), col("qid") === col("pqid"))
        .withColumn("cos", dot("qv", "v") / (sqrt(col("qn")) * sqrt(col("nn"))))
        .withColumn("cid", col("pcid"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("qid", "rank", "cid")
        .orderBy("qid", "rank")
    }

    val stages: Seq[(String, () => DataFrame)] = Seq(
      "1_assigned" -> (() => assigned()),
      "2_coded" -> (() => coded()),
      "3_probes" -> (() => probes()),
      "4_lut" -> (() => lut()),
      "5_adc" -> (() => adc()),
      "6_pool" -> (() => pool()),
      "7_full" -> (() => full()))

    for (r <- 1 to rounds; (name, fn) <- stages) {
      val (df, plan) = graft.CatalogBench.timed {
        val df = fn()
        df.queryExecution.executedPlan // force analyze+optimize+plan
        df
      }
      val exec = graft.CatalogBench.secs(df.write.format("noop").mode("overwrite").save())
      println(f"[adc] r$r $name%-12s plan=$plan%7.3f exec=$exec%7.3f")
    }
    spark.stop()
  }
}
