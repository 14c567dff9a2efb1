package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[FoldMachine.settle]], the maintenance belt q90 and q97 end with, on
  * planted durable state in the FoldMachineSpec style: a completed
  * retrain whose residual gap needs a seal, then an adoption.
  */
class FoldMachineSettleSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.scheduler.mode", "FAIR")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("a retrain whose gap needs a seal and then an adoption settles " +
      "within the bound") {
    val idx = java.nio.file.Files.createTempDirectory("foldmachine_settle")
      .toString
    val emb = graft.Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val retrainH = new Handoff(spark, s"$idx/req",
      g => s"$idx/retrain/req=$g/_RETRAIN_DONE", "settle-spec-retrain")(
      (_, _) => fail("the spec plants the retrain; no worker may run"))
    val fm = new FoldMachine(spark, idx, retrainH, "settle-spec-fold",
      "settle spec frozen table", gated = false)
    (1L to 2L).foreach(g => new java.io.File(s"$idx/arrived/gen=$g").mkdirs())
    for ((g, r) <- Seq(3L -> 18, 4L -> 28))
      emb.filter(pmod(col("vec_id"), lit(30)) === r).coalesce(1)
        .write.mode("overwrite").parquet(s"$idx/arrived/gen=$g")
    retrainH.submitRecord(2L, spark.range(1).select(lit(2L).as("gen")))
    graft.queries.LlmOps.buildFrozenIndex(spark, sf,
      emb.filter(pmod(col("vec_id"), lit(10)) =!= 9),
      s"$idx/retrain/req=2", "settle spec frozen table",
      withOccupancy = false)
    new java.io.File(s"$idx/retrain/req=2/_RETRAIN_DONE").createNewFile()

    fm.settle(5L)
    assert(fm.adopted() == Seq(2L) &&
      fm.pointer("base") == (s"$idx/retrain/req=2", 4L),
      "settle seals the residual (2, 4], joins the fold and adopts")
    assert(StreamOps.genDirs(spark, s"$idx/retrain/req=2/fold", "gen=") ==
      Seq(3L, 4L))
    assert(fm.maintain(5L) == ((false, false, false)),
      "settled means quiet")
  }
}
