package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names (dev loop)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Tables.session(s"local[$cpus]")
    spark.conf.set("spark.sql.shuffle.partitions", cpus)
    new java.io.File(outDir).mkdirs()
    // Output-boundary lint (SURVEY §5): the driver's hash compare is
    // type-representation-sensitive, and Spark vs DuckDB widen decimal
    // aggregates differently (decimal(28,2) vs DECIMAL(38,2)) — a raw
    // decimal in an output schema hash-fails on the driver while
    // passing every local check. Refuse it here so it can't ship.
    def lintSchema(name: String,
                   schema: org.apache.spark.sql.types.StructType): Unit = {
      import org.apache.spark.sql.types._
      // recursive: a decimal nested in a struct/array/map hash-fails
      // on the driver exactly like a top-level one
      def hasDecimal(dt: DataType): Boolean = dt match {
        case _: DecimalType     => true
        case s: StructType      => s.fields.exists(f => hasDecimal(f.dataType))
        case a: ArrayType       => hasDecimal(a.elementType)
        case m: MapType         => hasDecimal(m.keyType) || hasDecimal(m.valueType)
        case _                  => false
      }
      val decimals = schema.fields.collect {
        case f if hasDecimal(f.dataType) => f.name
      }
      require(decimals.isEmpty,
        s"[verify] $name output carries decimal-typed column(s) " +
          s"${decimals.mkString(", ")}; cast to double at the output " +
          "boundary on BOTH the Spark and oracle sides (SURVEY §5)")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        lintSchema(name, df.schema)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
