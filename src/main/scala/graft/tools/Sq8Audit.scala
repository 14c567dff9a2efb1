package graft.tools

import org.apache.spark.sql.functions._

import graft.functions.VectorFns
import graft.operators.ScalarQuantizer

/** Recall audit for the SQ8 tier (q104_ann_sq8) — the number that
  * positions byte quantization against the PQ family's measured
  * ceiling (tools/recall_audit_r16.json: exhaustive PQ ADC 0.712 at
  * 8× compression): recall@k of exhaustive SQ8 asymmetric distance
  * against brute-force exact ground truth, same query sample protocol
  * as RecallAudit (leave-self-out, fixed residue class). Kept as a
  * SEPARATE tool so re-measuring SQ8 never re-trains the k-means
  * artifacts whose committed audit numbers SCALING.md quotes (the r15
  * PQ-tuning staleness lesson: artifacts must be reproducible from the
  * committed tool without disturbing sibling numbers).
  *
  * Usage: runMain graft.tools.Sq8Audit [sfDir] [k] [nQueries]
  */
object Sq8Audit {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(10)
    val nQueries = args.lift(2).map(_.toInt).getOrElse(25)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.builder(s"local[$cpus]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect() // warmup

    val e = graft.Tables.load(spark, sfDir, "embeddings")
      .filter(col("vec_id") =!= 0)
    val (lo, hi) = ScalarQuantizer.train(e, "embedding")
    val codes = ScalarQuantizer.encode(e, "vec_id", "embedding", lo, hi)
      .localCheckpoint(true)

    val queryIds = e.filter(pmod(col("vec_id"), lit(37)) === 1)
      .select(col("vec_id")).orderBy(col("vec_id")).limit(nQueries)
      .collect().map(_.getLong(0)).toSeq
    require(queryIds.nonEmpty, s"no query sample at $sfDir")

    var recall = 0.0
    for (qid <- queryIds) {
      val q = e.filter(col("vec_id") === qid)
        .select(col("embedding").as("qe"))
      val qv = q.collect()(0).getSeq[Float](0).map(_.toDouble).toArray
      val exactD = VectorFns.normSq(col("embedding")) -
        lit(2.0) * VectorFns.dot(col("embedding"), col("qe")) +
        VectorFns.normSq(col("qe"))
      val gt = e.filter(col("vec_id") =!= qid)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), exactD.as("d"))
        .orderBy(col("d").asc, col("vec_id").asc).limit(k)
        .collect().map(_.getLong(0)).toSet
      val lut = ScalarQuantizer.lutFor(qv, lo, hi)
      val got = codes.filter(col("vec_id") =!= qid)
        .withColumn("sqd",
          graft.functions.LutSumF(col("codes"), typedLit(lut.toSeq)))
        .orderBy(col("sqd").asc, col("vec_id").asc).limit(k)
        .collect().map(_.getLong(0)).toSet
      recall += got.intersect(gt).size.toDouble / gt.size
    }
    println(f"""{"metric":"sq8_audit","k":$k,"n_queries":${queryIds.size},"recall":${recall / queryIds.size}%.4f,"compression_x":4,"sf":${graft.JsonText.quote(sfDir)}}""")
    spark.stop()
  }
}
