package graft.tools

/** Dev tool: print the `.explain("formatted")` physical plan of one
  * or more declared queries (the frame each query RETURNS — the plan
  * the bench's final action executes). Used to produce the committed
  * `plans/r19/<query>_{before,after}.txt` evidence files.
  *
  * Usage: runMain graft.tools.PlanDump <query>[,<query>…]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.01 — plan SHAPE is
  * scale-independent), SPARK_GRAFT_CPUS.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names = args.headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    require(names.nonEmpty, "usage: PlanDump <query>[,<query>…]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Tables.session(s"local[$cpus]")
    spark.conf.set("spark.sql.shuffle.partitions", cpus)
    names.foreach { n =>
      println(s"###PLAN### $n")
      // adhoc:changes_append — the plan of a pure-append changes()
      // range (what every append-only CDC micro-batch executes);
      // adhoc:lineage_append — same for the rid-keyed lineage feed.
      // Declared queries' returned frames never expose these
      // micro-batch plans directly, so the evidence files for the
      // streaming fast paths come from here.
      val df = n match {
        case "adhoc:changes_append" | "adhoc:lineage_append" =>
          import org.apache.spark.sql.functions.col
          val orders = graft.Tables.orders(spark, sfDir)
            .select(col("o_orderkey"), col("o_orderstatus"),
              col("o_totalprice"))
          if (n == "adhoc:lineage_append") {
            val t = graft.lakehouse.GraftTable.createEmpty(spark,
              java.nio.file.Files.createTempDirectory("graft_plandump")
                .toString, orders.schema)                      // snap 1
            t.setProperties(Map(
              graft.lakehouse.GraftTable.RowLineageProp -> "true"))
            t.append(orders.filter(col("o_orderkey") % 2 === 0)) // 2
            t.append(orders.filter(col("o_orderkey") % 2 === 1)) // 3
            t.lineageChanges(2, 3)
          } else {
            val t = graft.lakehouse.GraftTable.create(spark,
              java.nio.file.Files.createTempDirectory("graft_plandump")
                .toString, orders.filter(col("o_orderkey") % 2 === 0))
            t.append(orders.filter(col("o_orderkey") % 2 === 1))
            t.changes(1, 2)
          }
        case _ => graft.SparkEntry.queries(n)(spark, sfDir)
      }
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      println(s"###END### $n")
    }
    spark.stop()
  }
}
