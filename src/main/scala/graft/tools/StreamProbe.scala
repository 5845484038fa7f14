package graft.tools

import org.apache.spark.sql.functions._

/** Dev measurement main (not part of the query surface): replays the
  * stream_lake_cdc scenario and dumps per-batch durationMs from
  * recentProgress — the tool behind the getBatch/addBatch attribution
  * in OPTIMIZATION_r19.md. Kept alongside PlanDump so later rounds
  * can re-measure the streaming per-batch breakdown. */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val s = graft.Tables.session(s"local[$cpus]")
    s.conf.set("spark.sql.shuffle.partitions", cpus)
    import org.apache.spark.sql.streaming.Trigger
    // warm once at sf0.001 then measure at the target SF
    for (d <- Seq("/root/testdata/sf0.001", dir)) {
      val t0 = System.nanoTime()
      val orders = graft.Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val t = graft.lakehouse.GraftTable.create(s,
        java.nio.file.Files.createTempDirectory("graft_probe_cdc").toString,
        orders.filter(col("o_orderkey") % 4 < 3))
      t.append(orders.filter(col("o_orderkey") % 4 === 3))
      t.deleteMoRPos("o_orderkey % 10 = 0")
      t.updateMoRPos(Map("o_totalprice" -> "0.0"),
        "o_orderstatus = 'F' AND o_orderkey % 7 = 0")
      t.rewritePositionDeletes()
      t.addColumns(Seq(org.apache.spark.sql.types.StructField("o_note",
        org.apache.spark.sql.types.StringType)))
      t.append(orders.filter(col("o_orderkey") % 100 === 0)
        .withColumn("o_note", lit("late")))
      val tSetup = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val qn = "probe_feed_" +
        java.util.UUID.randomUUID.toString.replace("-", "").take(12)
      val q = s.readStream.format("graft-lake")
        .option("readChangeFeed", "true")
        .option("maxCommitsPerTrigger", 1)
        .load(t.location)
        .writeStream.format("memory").queryName(qn)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val tStream = (System.nanoTime() - t1) / 1e9
      println(f"== sf=$d setup=$tSetup%.2fs stream=$tStream%.2fs " +
        f"batches=${q.recentProgress.length}")
      q.recentProgress.foreach { p =>
        println(s"batch=${p.batchId} rows=${p.numInputRows} " +
          s"durations=${p.durationMs}")
      }
    }
    s.stop()
  }
}
