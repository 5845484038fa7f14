package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.lakehouse.{GraftTable, LakeQueries}

class LakehouseSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}
  import spark.implicits._

  private def freshTable(rows: Seq[(Long, String, Double)]): GraftTable =
    GraftTable.create(spark,
      Files.createTempDirectory("graft_spec").toString,
      rows.toDF("k", "tag", "v"))

  test("writeWidth: small commits collapse to one task, large narrow " +
      "estimates raise above the floor, Generate keeps the floor") {
    val dp = spark.sparkContext.defaultParallelism
    val floor = math.min(8, dp)
    // a few-KB estimate collapses to ONE task
    assert(GraftTable.writeWidth(spark.range(10).toDF("id")) == 1)
    // 2^28 longs estimate ≈ 2 GiB → ceil(est/128MB) = 16, above the
    // floor (the r19 form dead-coded this raise at the floor) and
    // within the 2×parallelism bound
    val wide = GraftTable.writeWidth(spark.range(1L << 28).toDF("id"))
    assert(wide > floor, s"wide estimate must raise above $floor: $wide")
    assert(wide <= math.max(2 * dp, floor), s"bounded: $wide")
    // a row-expanding plan (Generate) can undershoot the estimate by
    // its fan-out — small estimates there keep the session floor
    val g = spark.range(10)
      .select(explode(sequence(lit(1), lit(5))).as("x"))
    assert(GraftTable.writeWidth(g) == floor)
  }

  test("append accumulates and snapshots are immutable") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    t.append(Seq((3L, "c", 3.0)).toDF("k", "tag", "v"))
    assert(t.currentSnapshotId == 2)
    assert(t.read().count() == 3)
    assert(t.readAt(1).count() == 2)
  }

  test("delete is copy-on-write: untouched files carry forward") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    t.append(Seq((3L, "c", 3.0), (4L, "d", 4.0)).toDF("k", "tag", "v"))
    val before = t.currentSnapshot.files.toSet
    t.delete("k = 4") // only the second commit's file contains k=4
    val after = t.currentSnapshot.files.toSet
    assert((before intersect after).nonEmpty,
      "files without matching rows must be carried forward by reference")
    assert(t.read().select("k").as[Long].collect().sorted.sameElements(Array(1L, 2L, 3L)))
  }

  test("update rewrites matching rows only") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    t.update(Map("v" -> "v * 10"), "k = 2")
    val got = t.read().orderBy("k").select("v").as[Double].collect()
    assert(got.sameElements(Array(1.0, 20.0)))
  }

  test("merge upserts: matched replaced, unmatched inserted") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    t.merge(Seq((2L, "B", 20.0), (3L, "C", 30.0)).toDF("k", "tag", "v"), "k")
    val got = t.read().orderBy("k").collect()
    assert(got.map(_.getLong(0)).sameElements(Array(1L, 2L, 3L)))
    assert(got(1).getString(1) == "B" && got(1).getDouble(2) == 20.0)
    assert(got(2).getString(1) == "C")
  }

  test("merge rejects a source with duplicate keys (cardinality rule)") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    val dupSource =
      Seq((2L, "B", 20.0), (2L, "B2", 21.0), (3L, "C", 30.0)).toDF("k", "tag", "v")
    val e = intercept[IllegalArgumentException](t.merge(dupSource, "k"))
    assert(e.getMessage.contains("duplicate"))
    // the failed merge must not have committed anything
    assert(t.currentSnapshotId == 1 && t.read().count() == 2)
  }

  test("append widens safe type mismatches and rejects unsafe ones") {
    val t = freshTable(Seq((1L, "a", 1.0))) // k: BIGINT, v: DOUBLE
    // INT k and FLOAT v upcast to the table types; committed files
    // must read back through the manifest schema without error.
    t.append(Seq((2, "b", 2.5f)).toDF("k", "tag", "v"))
    val got = t.read().orderBy("k").select("v").as[Double].collect()
    assert(got.sameElements(Array(1.0, 2.5)))
    // a STRING column cannot be written as DOUBLE — reject, no commit
    val bad = Seq((3L, "c", "not-a-number")).toDF("k", "tag", "v")
    intercept[IllegalArgumentException](t.append(bad))
    assert(t.currentSnapshotId == 2)
  }

  test("SQL DML front-end routes INSERT/UPDATE/DELETE/MERGE to the table") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    graft.lakehouse.LakeRegistry.register("sqldml_t", t)
    spark.sql("INSERT INTO sqldml_t VALUES (3, 'c', 3.0)")
    assert(t.read().count() == 3)
    spark.sql("UPDATE sqldml_t SET v = v * 10 WHERE k = 2")
    spark.sql("DELETE FROM sqldml_t WHERE k = 1")
    Seq((2L, "B", 99.0), (4L, "d", 4.0)).toDF("k", "tag", "v")
      .createOrReplaceTempView("sqldml_src")
    spark.sql(
      """MERGE INTO sqldml_t t USING sqldml_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET tag = s.tag
        |WHEN NOT MATCHED THEN INSERT (k, tag, v) VALUES (s.k, s.tag, s.v)
        |""".stripMargin)
    val got = t.read().orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.toSeq == Seq((2L, "B", 20.0), (3L, "c", 3.0), (4L, "d", 4.0)))
  }

  test("INSERT column lists, static PARTITION specs, and the " +
      "empty-source static OVERWRITE truncate") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("p", StringType, nullable = false),
      StructField("v", DoubleType, nullable = true),
      StructField("note", StringType, nullable = true)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "a", 1.0, "r1"), Row(2L, "b", 2.0, "r2")), schema)
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_spec").toString, df,
      partitionBy = Seq("p"))
    graft.lakehouse.LakeRegistry.register("inscols_t", t)
    spark.sql("ALTER TABLE inscols_t ADD COLUMNS (src STRING DEFAULT 'd')")
    // column list: omitted nullable v/note fill NULL, omitted src
    // fills its declared write-DEFAULT
    spark.sql("INSERT INTO inscols_t (k, p) VALUES (3, 'a')")
    val r3 = t.read().filter(col("k") === 3).collect().head
    assert(r3.getAs[String]("p") == "a" && r3.isNullAt(r3.fieldIndex("v"))
      && r3.isNullAt(r3.fieldIndex("note"))
      && r3.getAs[String]("src") == "d")
    // static PARTITION spec composes with a column list; the
    // constant may name a brand-new partition value
    spark.sql("INSERT INTO inscols_t PARTITION (p = 'c') (k) VALUES (10)")
    assert(t.read().filter(col("p") === "c").count() == 1)
    // refusal matrix — and no refused statement may commit
    val snaps = t.currentSnapshotId
    intercept[IllegalArgumentException](spark.sql(
      "INSERT INTO inscols_t (p) VALUES ('a')")) // k !null, no default
    intercept[IllegalArgumentException](spark.sql(
      "INSERT INTO inscols_t (k, zzz) VALUES (4, 'a')")) // unknown
    intercept[IllegalArgumentException](spark.sql(
      "INSERT INTO inscols_t (k, k) VALUES (4, 5)")) // repeated
    intercept[IllegalArgumentException](spark.sql(
      // p in BOTH the list and the static spec
      "INSERT INTO inscols_t PARTITION (p = 'a') (k, p) VALUES (4, 'a')"))
    intercept[IllegalArgumentException](spark.sql(
      // v is not a partition source column
      "INSERT INTO inscols_t PARTITION (v = 1.0) (k, p) VALUES (4, 'a')"))
    intercept[IllegalArgumentException](spark.sql(
      // arity: table minus static = (k, v, note, src) = 4, given 2
      "INSERT INTO inscols_t PARTITION (p = 'c') VALUES (11, 11.0)"))
    intercept[IllegalArgumentException](spark.sql(
      // BY NAME query also provides the statically-spec'd column —
      // silently overwriting it would hide the contradiction
      """INSERT INTO inscols_t PARTITION (p = 'c') BY NAME
        |SELECT 12 AS k, 'z' AS p""".stripMargin))
    assert(t.currentSnapshotId == snaps, "refused INSERTs must not commit")
    // static OVERWRITE with an EMPTY source truncates the named
    // partition (row-derived discovery would silently no-op) and
    // carries every other partition's files by reference
    val before = t.currentSnapshot.files.toSet
    spark.sql("""INSERT OVERWRITE inscols_t PARTITION (p = 'b')
                |SELECT * FROM VALUES (CAST(1 AS BIGINT),
                |  CAST(NULL AS DOUBLE), 'n', 's') AS e(a, b, c, d)
                |LIMIT 0""".stripMargin)
    assert(t.read().filter(col("p") === "b").count() == 0,
      "empty-source static OVERWRITE must truncate the named partition")
    assert(before.filterNot(_.contains("p=b"))
        .forall(t.currentSnapshot.files.toSet.contains),
      "partitions outside the static spec must carry by reference")
    assert(t.read().count() == 3) // a:2 rows, c:1 row survive
  }

  test("dynamic PARTITION (p) maps query columns with partition " +
      "columns LAST (the Spark/Hive contract)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("a", StringType, nullable = false),
      StructField("p", StringType, nullable = false),
      StructField("b", StringType, nullable = false)))
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_spec").toString,
      spark.createDataFrame(java.util.Arrays.asList(
        Row("a0", "p0", "b0")), schema), partitionBy = Seq("p"))
    graft.lakehouse.LakeRegistry.register("dynord_t", t)
    // SELECT order is (a, b, p): p is dynamic-spec'd so it comes LAST
    // — schema-order mapping would silently write b0<->p1 swapped
    spark.sql(
      "INSERT INTO dynord_t PARTITION (p) VALUES ('a1', 'b1', 'p1')")
    val r = t.read().filter(col("a") === "a1").collect().head
    assert(r.getAs[String]("p") == "p1" && r.getAs[String]("b") == "b1",
      "dynamic partition columns must map from the SELECT's tail")
  }

  test("INSERT OVERWRITE with a PARTIAL static spec drops the whole " +
      "literal prefix (Hive static mode)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("p", StringType, nullable = false),
      StructField("q", StringType, nullable = false)))
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_spec").toString,
      spark.createDataFrame(java.util.Arrays.asList(
        Row(1L, "a", "x"), Row(2L, "a", "y"), Row(3L, "b", "x")),
        schema), partitionBy = Seq("p", "q"))
    graft.lakehouse.LakeRegistry.register("prefow_t", t)
    // writes only (a,x) but static mode must drop ALL of p=a first —
    // row-derived discovery would keep the sibling (a,y) cell
    spark.sql("""INSERT OVERWRITE prefow_t PARTITION (p = 'a')
                |SELECT 10, 'x' """.stripMargin)
    val got = t.read().orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(got == Seq((3L, "b", "x"), (10L, "a", "x")),
      s"prefix drop must remove the unwritten sibling cell, got $got")
    // under partitionOverwriteMode=dynamic the SAME statement stays
    // row-scoped (Spark's dynamic mode contract)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.sql("""INSERT OVERWRITE prefow_t PARTITION (p = 'b')
                  |SELECT 20, 'z' """.stripMargin)
      assert(t.read().count() == 3,
        "dynamic mode replaces only written partitions: (b,x) survives")
      assert(t.read().filter(col("p") === "b").count() == 2)
    } finally spark.conf
      .set("spark.sql.sources.partitionOverwriteMode", "static")
  }

  test("TRUNCATE and PARTITION FIELD DDL refusal matrix") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("p", StringType, nullable = false),
      StructField("q", StringType, nullable = false)))
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_spec").toString,
      spark.createDataFrame(java.util.Arrays.asList(
        Row(1L, "a", "x"), Row(2L, "b", "y")), schema),
      partitionBy = Seq("p", "q"))
    graft.lakehouse.LakeRegistry.register("truncref_t", t)
    val snaps = t.currentSnapshotId
    // a non-partition-source column refuses, and refusals never commit
    intercept[IllegalArgumentException](spark.sql(
      "TRUNCATE TABLE truncref_t PARTITION (p = 'a', k = '1')"))
    // case-variant duplicate keys would silently collapse last-wins
    intercept[IllegalArgumentException](
      t.truncatePartition(Map("p" -> "a", "P" -> "b")))
    assert(t.currentSnapshotId == snaps, "refusals must not commit")
    // full spec names one cell
    spark.sql("TRUNCATE TABLE truncref_t PARTITION (p = 'a', q = 'x')")
    assert(t.read().collect().map(_.getLong(0)).toSeq == Seq(2L))
    // PARTIAL spec is a PREFIX truncate (Hive): drops all of p='b'
    spark.sql("TRUNCATE TABLE truncref_t PARTITION (p = 'b')")
    assert(t.read().count() == 0,
      "a partial spec must truncate the whole prefix")
    // unpartitioned table: PARTITION form refuses, full form works
    val t2 = freshTable(Seq((1L, "a", 1.0)))
    graft.lakehouse.LakeRegistry.register("truncref2_t", t2)
    intercept[IllegalArgumentException](spark.sql(
      "TRUNCATE TABLE truncref2_t PARTITION (k = '1')"))
    spark.sql("TRUNCATE TABLE truncref2_t")
    assert(t2.read().count() == 0)
    // PARTITION FIELD DDL: identity fields are not data-complete
    // (hive layout strips the column from data files) — refuse
    intercept[IllegalArgumentException](spark.sql(
      "ALTER TABLE truncref2_t ADD PARTITION FIELD tag"))
    // unknown field refuses on DROP; case/space-insensitive match
    val t3 = GraftTable.create(spark,
      Files.createTempDirectory("graft_spec").toString,
      spark.range(3).select(col("id"),
        lit("2024-05-01 10:00:00").cast("timestamp").as("ts")))
    graft.lakehouse.LakeRegistry.register("truncref3_t", t3)
    // UPPERCASE transform keyword AND column store canonically
    // (keyword lowercased, column rewritten to schema case) —
    // PartField.parse matches lowercase transforms, and
    // updatePartitionSpec's schema check is case-exact
    spark.sql("ALTER TABLE truncref3_t ADD PARTITION FIELD DAY( TS )")
    assert(t3.currentSnapshot.partitionCols == Seq("day(ts)"),
      "transform keyword and source column must canonicalize")
    // re-adding the same field (any case) refuses; replacing one
    // field with another ALREADY-PRESENT field refuses too
    intercept[IllegalArgumentException](spark.sql(
      "ALTER TABLE truncref3_t ADD PARTITION FIELD day(ts)"))
    spark.sql("ALTER TABLE truncref3_t ADD PARTITION FIELD hour(ts)")
    intercept[IllegalArgumentException](spark.sql(
      "ALTER TABLE truncref3_t REPLACE PARTITION FIELD hour(ts) " +
        "WITH DAY(ts)"))
    spark.sql("ALTER TABLE truncref3_t DROP PARTITION FIELD hour(ts)")
    assert(t3.currentSnapshot.partitionCols == Seq("day(ts)"))
    intercept[IllegalArgumentException](spark.sql(
      "ALTER TABLE truncref3_t DROP PARTITION FIELD month(ts)"))
    spark.sql("ALTER TABLE truncref3_t DROP PARTITION FIELD DAY( ts )")
    assert(t3.currentSnapshot.partitionCols.isEmpty,
      "DROP PARTITION FIELD must match case/whitespace-insensitively")
  }

  test("DML subqueries: NOT IN null no-op, refusal shapes") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
    graft.lakehouse.LakeRegistry.register("dmlsub_t", t)
    Seq(Some(1L), None).toDF("x").createOrReplaceTempView("dmlsub_null")
    Seq(2L, 2L).toDF("x").createOrReplaceTempView("dmlsub_dup")
    // ANSI NOT IN: a NULL in the list makes the predicate UNKNOWN
    // for every row — the statement must commit nothing
    val snaps = t.currentSnapshotId
    spark.sql(
      "DELETE FROM dmlsub_t WHERE k NOT IN (SELECT x FROM dmlsub_null)")
    assert(t.read().count() == 3 && t.currentSnapshotId == snaps,
      "NOT IN with a NULL list must be a no-op")
    // duplicate source keys must not trip the merge cardinality check
    spark.sql(
      "UPDATE dmlsub_t SET v = v * 10 WHERE k IN (SELECT x FROM dmlsub_dup)")
    assert(t.read().filter(col("k") === 2).select("v")
      .as[Double].head() == 20.0)
    // IN with a residual conjunct, and IN against the null view
    // (nulls in an IN list never match — only k=1 deletes)
    spark.sql(
      "DELETE FROM dmlsub_t WHERE k IN (SELECT x FROM dmlsub_null) AND v < 5")
    assert(t.read().select("k").as[Long].collect().sorted.toSeq ==
      Seq(2L, 3L))
    // ANSI empty-list: `IN (empty)` is FALSE for every row (no-op,
    // no commit); `NOT IN (empty)` is TRUE for EVERY row — including
    // NULL-keyed ones, which the non-empty path's implicit
    // `key IS NOT NULL` residual would wrongly spare
    val snaps2 = t.currentSnapshotId
    spark.sql(
      "DELETE FROM dmlsub_t WHERE k IN (SELECT x FROM dmlsub_dup WHERE x > 100)")
    assert(t.currentSnapshotId == snaps2, "IN (empty) must not commit")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val tn = GraftTable.create(spark,
      Files.createTempDirectory("graft_spec").toString,
      spark.createDataFrame(java.util.Arrays.asList(
        Row(java.lang.Long.valueOf(1L), "a"), Row(null, "b")),
        StructType(Seq(StructField("k", LongType, nullable = true),
          StructField("tag", StringType, nullable = true)))))
    graft.lakehouse.LakeRegistry.register("dmlsubn_t", tn)
    spark.sql("DELETE FROM dmlsubn_t WHERE k NOT IN " +
      "(SELECT x FROM dmlsub_dup WHERE x > 100)")
    assert(tn.read().count() == 0,
      "NOT IN (empty) must delete every row, NULL keys included")
    // refusals: uncorrelated EXISTS (a constant predicate), scalar
    // subquery in SET, two IN conjuncts
    intercept[UnsupportedOperationException](spark.sql(
      "DELETE FROM dmlsub_t WHERE EXISTS (SELECT 1 FROM dmlsub_dup)"))
    intercept[IllegalArgumentException](spark.sql(
      "UPDATE dmlsub_t SET v = (SELECT max(x) FROM dmlsub_dup) WHERE k = 2"))
    intercept[IllegalArgumentException](spark.sql(
      """DELETE FROM dmlsub_t WHERE k IN (SELECT x FROM dmlsub_dup)
        |AND k IN (SELECT x FROM dmlsub_null)""".stripMargin))
  }

  test("DML EXISTS: ANSI null semantics, multi-key correlation, " +
      "empty subquery, refusal shapes") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def fresh(): GraftTable = {
      val t = GraftTable.create(spark,
        Files.createTempDirectory("graft_spec").toString,
        spark.createDataFrame(java.util.Arrays.asList(
          Row(java.lang.Long.valueOf(1L), "a", 1.0),
          Row(java.lang.Long.valueOf(2L), "b", 2.0),
          Row(null, "n", 3.0)),
          StructType(Seq(StructField("k", LongType, nullable = true),
            StructField("tag", StringType, nullable = true),
            StructField("v", DoubleType, nullable = false)))))
      graft.lakehouse.LakeRegistry.register("dmlex_t", t)
      t
    }
    // source carries a NULL key too: EXISTS needs none of NOT IN's
    // null poison — NULL keys just never equate, on either side
    Seq(Some(1L), None).toDF("x").createOrReplaceTempView("dmlex_src")
    val t1 = fresh()
    spark.sql("DELETE FROM dmlex_t WHERE EXISTS " +
      "(SELECT 1 FROM dmlex_src s WHERE s.x = dmlex_t.k)")
    assert(t1.read().select("tag").as[String].collect().sorted.toSeq ==
      Seq("b", "n"),
      "EXISTS deletes only equated keys; NULL target keys survive")
    // NOT EXISTS affects rows with NO match — NULL-keyed rows included
    // (s.x = NULL is never true, so the subquery is empty for them)
    val t2 = fresh()
    spark.sql("DELETE FROM dmlex_t WHERE NOT EXISTS " +
      "(SELECT 1 FROM dmlex_src s WHERE s.x = dmlex_t.k)")
    assert(t2.read().select("tag").as[String].collect().toSeq == Seq("a"),
      "NOT EXISTS deletes unmatched rows, NULL target keys included")
    // empty subquery: EXISTS is a no-op (no commit); NOT EXISTS is
    // TRUE for every row and degrades to the plain DML on the residual
    val t3 = fresh()
    val snaps = t3.currentSnapshotId
    spark.sql("DELETE FROM dmlex_t WHERE EXISTS " +
      "(SELECT 1 FROM dmlex_src s WHERE s.x = dmlex_t.k AND s.x > 100)")
    assert(t3.currentSnapshotId == snaps, "EXISTS (empty) must not commit")
    spark.sql("UPDATE dmlex_t SET v = v * 10 WHERE NOT EXISTS " +
      "(SELECT 1 FROM dmlex_src s WHERE s.x = dmlex_t.k AND s.x > 100) " +
      "AND v < 2")
    assert(t3.read().orderBy("tag").select("v").as[Double]
      .collect().toSeq == Seq(10.0, 2.0, 3.0),
      "NOT EXISTS (empty) must run the plain DML on the residual")
    // multi-key correlation (k AND tag) with flipped operand order
    // and a subquery-local predicate
    Seq((1L, "a", true), (2L, "zzz", true), (2L, "b", false))
      .toDF("x", "y", "ok").createOrReplaceTempView("dmlex_src2")
    val t4 = fresh()
    spark.sql("DELETE FROM dmlex_t WHERE EXISTS " +
      "(SELECT 1 FROM dmlex_src2 s WHERE s.x = dmlex_t.k " +
      "AND dmlex_t.tag = s.y AND s.ok)")
    assert(t4.read().select("tag").as[String].collect().sorted.toSeq ==
      Seq("b", "n"),
      "multi-key correlation must match on ALL keys; local predicates " +
        "stay subquery-side")
    // refusal matrix: non-equi correlation, outer ref in the SELECT
    // list, duplicate correlation on one column, EXISTS + IN together
    intercept[UnsupportedOperationException](spark.sql(
      "DELETE FROM dmlex_t WHERE EXISTS " +
        "(SELECT 1 FROM dmlex_src s WHERE s.x > dmlex_t.k)"))
    intercept[IllegalArgumentException](spark.sql(
      "DELETE FROM dmlex_t WHERE EXISTS " +
        "(SELECT dmlex_t.k FROM dmlex_src s WHERE s.x = dmlex_t.k)"))
    intercept[IllegalArgumentException](spark.sql(
      "DELETE FROM dmlex_t WHERE EXISTS " +
        "(SELECT 1 FROM dmlex_src s WHERE s.x = dmlex_t.k " +
        "AND dmlex_t.k = s.x + 1)"))
    intercept[IllegalArgumentException](spark.sql(
      "DELETE FROM dmlex_t WHERE EXISTS " +
        "(SELECT 1 FROM dmlex_src s WHERE s.x = dmlex_t.k) " +
        "AND k IN (SELECT x FROM dmlex_src)"))
  }

  test("CHECK constraints: NULL passes, MoR/MERGE writes validate, " +
      "TBLPROPERTIES route refused, persists across reload") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("graft_spec").toString
    val t = GraftTable.create(spark, root,
      spark.createDataFrame(java.util.Arrays.asList(
        Row(1L, java.lang.Double.valueOf(1.0)), Row(2L, null)),
        StructType(Seq(StructField("k", LongType, nullable = false),
          StructField("v", DoubleType, nullable = true)))))
    graft.lakehouse.LakeRegistry.register("conref_t", t)
    // SQL CHECK semantics: NULL is not a violation — declaring over
    // the existing NULL row succeeds
    spark.sql("ALTER TABLE conref_t ADD CONSTRAINT pos CHECK (v > 0)")
    spark.sql("INSERT INTO conref_t VALUES (3, CAST(NULL AS DOUBLE))")
    assert(t.read().count() == 3, "NULL must pass a CHECK")
    // MERGE-written rows validate too (one new-file scan, pre-commit)
    Seq((1L, -9.0), (4L, 4.0)).toDF("k", "v")
      .createOrReplaceTempView("conref_src")
    val snaps = t.currentSnapshotId
    val e = intercept[Exception](spark.sql(
      """MERGE INTO conref_t t USING conref_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
        |""".stripMargin))
    assert(e.getMessage.contains("CHECK constraint"))
    assert(t.currentSnapshotId == snaps, "violating MERGE must not commit")
    // the unvalidated TBLPROPERTIES route refuses
    intercept[UnsupportedOperationException](spark.sql(
      "ALTER TABLE conref_t SET TBLPROPERTIES " +
        "('graft.constraint.neg' = 'v < 0')"))
    // constraints ride the manifest: a fresh handle still enforces
    val t2 = GraftTable.load(spark, root)
    intercept[Exception](t2.append(Seq((9L, -1.0)).toDF("k", "v")))
    assert(t2.read().count() == 3)
    // duplicate name refuses; unknown DROP refuses
    intercept[IllegalArgumentException](spark.sql(
      "ALTER TABLE conref_t ADD CONSTRAINT pos CHECK (v > 1)"))
    intercept[IllegalArgumentException](spark.sql(
      "ALTER TABLE conref_t DROP CONSTRAINT nope"))
    // a raw newline would truncate in the line-oriented store and
    // silently weaken enforcement — refuse at declare time
    intercept[IllegalArgumentException](spark.sql(
      "ALTER TABLE conref_t ADD CONSTRAINT ml CHECK (v > 0\n AND k < 5)"))
    // renaming/dropping a referenced column would wedge every later
    // write with a raw unresolved-column error — refuse with the
    // constraint named
    val er = intercept[IllegalArgumentException](
      t.renameColumn("v", "w"))
    assert(er.getMessage.contains("pos"))
    intercept[IllegalArgumentException](t.dropColumn("v"))
    // constraints over identity-partition columns evaluate against
    // the DECLARED type: '007' must stay the string '007' on the
    // validation read-back, not partition-infer to int 7
    val tp = GraftTable.create(spark,
      Files.createTempDirectory("graft_spec").toString,
      spark.createDataFrame(java.util.Arrays.asList(Row(1L, "007")),
        StructType(Seq(StructField("k", LongType, nullable = false),
          StructField("p", StringType, nullable = false)))),
      partitionBy = Seq("p"))
    graft.lakehouse.LakeRegistry.register("conref_p", tp)
    spark.sql("ALTER TABLE conref_p ADD CONSTRAINT len3 " +
      "CHECK (length(p) = 3)")
    spark.sql("INSERT INTO conref_p VALUES (2, '042')") // must pass
    assert(tp.read().count() == 2)
    intercept[Exception](spark.sql(
      "INSERT INTO conref_p VALUES (3, 'toolong')"))
    // transform-partitioned (hidden) layout: the validation read-back
    // with the declared schema must tolerate the derived _gp_0 dirs
    val tt = GraftTable.create(spark,
      Files.createTempDirectory("graft_spec").toString,
      Seq((1L, "2024-03-01 00:00:00")).toDF("k", "s")
        .select(col("k"), col("s").cast("timestamp").as("ts")),
      partitionBy = Seq("year(ts)"))
    graft.lakehouse.LakeRegistry.register("conref_h", tt)
    spark.sql("ALTER TABLE conref_h ADD CONSTRAINT kpos CHECK (k > 0)")
    spark.sql("INSERT INTO conref_h VALUES " +
      "(2, CAST('2025-07-01 00:00:00' AS TIMESTAMP))")
    assert(tt.read().count() == 2)
    intercept[Exception](spark.sql("INSERT INTO conref_h VALUES " +
      "(-1, CAST('2025-07-01 00:00:00' AS TIMESTAMP))"))
    assert(tt.read().count() == 2)
  }

  test("multi-constraint writes validate in ONE pass and name the " +
      "first violated entry; NOT NULL rides the same pass") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_spec").toString,
      spark.createDataFrame(java.util.Arrays.asList(
        Row(1L, java.lang.Double.valueOf(1.0), "x")),
        StructType(Seq(StructField("k", LongType, nullable = true),
          StructField("v", DoubleType, nullable = true),
          StructField("tag", StringType, nullable = true)))))
    graft.lakehouse.LakeRegistry.register("multicon_t", t)
    spark.sql("ALTER TABLE multicon_t ADD CONSTRAINT b_small CHECK (k < 100)")
    spark.sql("ALTER TABLE multicon_t ADD CONSTRAINT a_pos CHECK (v > 0)")
    spark.sql("ALTER TABLE multicon_t ALTER COLUMN tag SET NOT NULL")
    // a row violating BOTH checks names the FIRST (NOT NULLs, then
    // CHECKs name-sorted: a_pos before b_small)
    val e1 = intercept[Exception](spark.sql(
      "INSERT INTO multicon_t VALUES (200, -1.0, 'y')"))
    assert(e1.getMessage.contains("a_pos"),
      s"first violated CHECK must be named, got: ${e1.getMessage}")
    // a row violating the NOT NULL and a CHECK names the NOT NULL
    val e2 = intercept[Exception](spark.sql(
      "INSERT INTO multicon_t VALUES (200, 1.0, CAST(NULL AS STRING))"))
    assert(e2.getMessage.contains("NOT NULL constraint on 'tag'"),
      s"NOT NULL must be named before CHECKs, got: ${e2.getMessage}")
    // a conforming write under all three lands
    spark.sql("INSERT INTO multicon_t VALUES (2, 2.0, 'z')")
    assert(t.read().count() == 2)
  }

  test("NOT NULL: declare validates existing, MoR writes validate, " +
      "accidental nullable=false is not enforced, flag persists") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("graft_spec").toString
    val t = GraftTable.create(spark, root,
      spark.createDataFrame(java.util.Arrays.asList(
        Row(1L, java.lang.Double.valueOf(1.0)), Row(2L, null)),
        StructType(Seq(StructField("k", LongType, nullable = false),
          StructField("v", DoubleType, nullable = true)))))
    graft.lakehouse.LakeRegistry.register("nnref_t", t)
    // the creating frame's nullable=false on k is NOT a declared
    // constraint: writes of NULL k are not validated against it…
    spark.sql("INSERT INTO nnref_t VALUES (CAST(NULL AS BIGINT), 9.0)")
    assert(t.read().count() == 3)
    // …and it is not a constraint one can DROP
    intercept[IllegalArgumentException](spark.sql(
      "ALTER TABLE nnref_t ALTER COLUMN k DROP NOT NULL"))
    // declaring over existing NULLs refuses (v holds one)
    intercept[IllegalArgumentException](spark.sql(
      "ALTER TABLE nnref_t ALTER COLUMN v SET NOT NULL"))
    // clean the NULLs, declare, and the flag persists across reload
    spark.sql("DELETE FROM nnref_t WHERE v IS NULL OR k IS NULL")
    spark.sql("ALTER TABLE nnref_t ALTER COLUMN v SET NOT NULL")
    val t2 = GraftTable.load(spark, root)
    assert(!t2.currentSnapshot.schema("v").nullable)
    intercept[Exception](t2.append(
      spark.createDataFrame(java.util.Arrays.asList(Row(9L, null)),
        StructType(Seq(StructField("k", LongType, nullable = false),
          StructField("v", DoubleType, nullable = true))))))
    // MoR interplay: a merge-on-read UPDATE writing NULL new images
    // refuses pre-commit through the same funnel
    t2.setProperties(t2.properties +
      ("write.update.mode" -> "merge-on-read",
        "write.delete.style" -> "position"))
    val snaps = t2.currentSnapshotId
    val em = intercept[Exception](spark.sql(
      "UPDATE nnref_t SET v = CAST(NULL AS DOUBLE) WHERE k = 1"))
    assert(em.getMessage.contains("NOT NULL constraint on 'v'"))
    assert(t2.currentSnapshotId == snaps,
      "violating MoR UPDATE must not commit")
    // …and a conforming MoR UPDATE still lands
    spark.sql("UPDATE nnref_t SET v = 42.0 WHERE k = 1")
    assert(t2.read().filter(col("k") === 1).select("v")
      .as[Double].head() == 42.0)
    // DROP NOT NULL reopens
    spark.sql("ALTER TABLE nnref_t ALTER COLUMN v DROP NOT NULL")
    spark.sql("UPDATE nnref_t SET v = CAST(NULL AS DOUBLE) WHERE k = 1")
    assert(t2.read().filter(col("v").isNull).count() == 1)
  }

  test("conditional MERGE clauses: AND conditions, partial SET, DELETE") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", -5.0), (3L, "c", 3.0)))
    graft.lakehouse.LakeRegistry.register("sqlmc_t", t)
    Seq((1L, 10.0), (2L, 20.0), (4L, 40.0), (5L, -1.0))
      .toDF("k", "delta").createOrReplaceTempView("sqlmc_src")
    spark.sql(
      """MERGE INTO sqlmc_t t USING sqlmc_src s ON t.k = s.k
        |WHEN MATCHED AND t.v < 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = t.v + s.delta
        |WHEN NOT MATCHED AND s.delta > 0 THEN
        |  INSERT (k, tag, v) VALUES (s.k, 'new', s.delta)
        |""".stripMargin)
    val got = t.read().orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    // k=1 matched+updated, k=2 matched+deleted (v<0), k=3 untouched,
    // k=4 inserted, k=5 filtered by the insert condition
    assert(got.toSeq ==
      Seq((1L, "a", 11.0), (3L, "c", 3.0), (4L, "new", 40.0)))
  }

  test("UPDATE / MERGE INSERT values get the ANSI store-assignment check") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    // a string literal cannot be stored into DOUBLE v — must reject,
    // not silently commit NULL via a lenient cast
    intercept[IllegalArgumentException](
      t.update(Map("v" -> "'oops'"), "k = 1"))
    assert(t.currentSnapshotId == 1)
    // same contract through the SQL MERGE INSERT clause values
    graft.lakehouse.LakeRegistry.register("ansi_t", t)
    Seq((9L, "x")).toDF("k", "tag").createOrReplaceTempView("ansi_src")
    intercept[IllegalArgumentException](spark.sql(
      """MERGE INTO ansi_t t USING ansi_src s ON t.k = s.k
        |WHEN NOT MATCHED THEN INSERT (k, tag, v) VALUES (s.k, s.tag, 'bad')
        |""".stripMargin))
    assert(t.currentSnapshotId == 1)
    // while a safe widening (INT literal into DOUBLE) still works
    spark.sql(
      """MERGE INTO ansi_t t USING ansi_src s ON t.k = s.k
        |WHEN NOT MATCHED THEN INSERT (k, tag, v) VALUES (s.k, s.tag, 7)
        |""".stripMargin)
    assert(t.read().filter($"k" === 9L && $"v" === 7.0).count() == 1)
  }

  test("MERGE ON must join target to source (degenerate keys rejected)") {
    val t = freshTable(Seq((1L, "a", 1.0)))
    graft.lakehouse.LakeRegistry.register("onchk_t", t)
    Seq((1L, "z", 9.0)).toDF("k", "tag", "v")
      .createOrReplaceTempView("onchk_src")
    for (cond <- Seq("t.k = t.k", "k = k", "s.k = s.k"))
      intercept[UnsupportedOperationException](spark.sql(
        s"""MERGE INTO onchk_t t USING onchk_src s ON $cond
           |WHEN MATCHED THEN UPDATE SET *
           |""".stripMargin))
    assert(t.currentSnapshotId == 1)
  }

  test("catalog SQL: DESCRIBE schema/partitions/extended, SHOW TABLES " +
      "merges temp views, SHOW PARTITIONS values and refusals") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_spec").toString,
      Seq((1L, "a", ts("2024-01-01 10:00:00")),
        (2L, "b", ts("2024-01-02 11:00:00")),
        (3L, "c", ts("2024-01-02 12:00:00"))).toDF("k", "tag", "ts"),
      partitionBy = Seq("day(ts)"))
    graft.lakehouse.LakeRegistry.register("catdb.events_c", t)
    spark.sql("ALTER TABLE catdb.events_c ALTER COLUMN tag SET NOT NULL")
    spark.sql("ALTER TABLE catdb.events_c ADD CONSTRAINT kpos CHECK (k > 0)")

    // DESCRIBE: schema rows typed, not-null marked, transform field
    // under the partition block with its SOURCE column's type
    val desc = spark.sql("DESCRIBE TABLE catdb.events_c").collect()
    val byName = desc.map(r =>
      r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(byName("k") == ("bigint", null))
    assert(byName("tag") == ("string", "not null"))
    assert(byName("ts")._1 == "timestamp")
    assert(byName.contains("# Partition Information"))
    assert(byName("day(ts)") == ("timestamp", null))
    // EXTENDED adds location, snapshot, and the declared constraint
    val ext = spark.sql("DESCRIBE EXTENDED catdb.events_c").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ext("Location") == t.location)
    assert(ext("Snapshot") == t.currentSnapshotId.toString)
    assert(ext("Constraint kpos") == "CHECK (k > 0)")
    assert(ext("Provider") == "graft")

    // SHOW TABLES merges the session catalog (temp views) with lake
    // names: bare lake names list under the empty namespace
    val bare = GraftTable.create(spark,
      Files.createTempDirectory("graft_spec").toString,
      Seq((1L, "x", 1.0)).toDF("k", "tag", "v"))
    graft.lakehouse.LakeRegistry.register("catbare_t", bare)
    Seq(1).toDF("x").createOrReplaceTempView("cattv_v")
    val all = spark.sql("SHOW TABLES").collect()
      .map(r => r.getString(1) -> r.getBoolean(2)).toMap
    assert(all.get("catbare_t").contains(false),
      "bare lake names must list")
    assert(all.get("cattv_v").contains(true),
      "temp views must survive the merged listing")
    val inDb = spark.sql("SHOW TABLES IN catdb").collect()
    assert(inDb.map(_.getString(1)).toSeq == Seq("events_c") &&
      inDb.head.getString(0) == "catdb")
    assert(spark.sql("SHOW TABLES IN catdb LIKE 'nomatch*'").count() == 0)
    assert(spark.sql("SHOW TABLES LIKE 'catbare*'").collect()
      .map(_.getString(1)).toSeq == Seq("catbare_t"))

    // SHOW PARTITIONS: one row per live day, layout-rendered
    val parts = spark.sql("SHOW PARTITIONS catdb.events_c").collect()
      .map(_.getString(0)).toSeq
    assert(parts.size == 2 && parts.forall(_.contains("=")) &&
      parts == parts.sorted, s"got $parts")
    // refusals: unpartitioned table, PARTITION(spec) filter
    val e1 = intercept[Exception](
      spark.sql("SHOW PARTITIONS catbare_t"))
    assert(e1.getMessage.contains("not partitioned"))
    val e2 = intercept[Exception](
      spark.sql("SHOW PARTITIONS catdb.events_c PARTITION (x=1)"))
    assert(e2.getMessage.contains("not supported"))
    // a shadowing temp view wins DESCRIBE too — the metadata claims
    // must describe the same table reads resolve
    Seq((1, "z")).toDF("a", "b").createOrReplaceTempView("catshadow_t")
    graft.lakehouse.LakeRegistry.register("catshadow_t", bare)
    try {
      val dsh = spark.sql("DESCRIBE TABLE catshadow_t").collect()
        .map(_.getString(0))
      assert(dsh.contains("a") && !dsh.contains("k"),
        s"DESCRIBE must answer the shadowing temp view, got " +
          dsh.mkString(","))
    } finally {
      spark.catalog.dropTempView("catshadow_t")
      graft.lakehouse.LakeRegistry.unregister("catshadow_t")
    }
    // a namespace NOTHING knows errors like Spark, not empty success
    val e3 = intercept[Exception](
      spark.sql("SHOW TABLES IN no_such_db_xyz").collect())
    assert(e3.getMessage.contains("no_such_db_xyz"))
  }

  test("three-part addressing: the configured catalog prefix strips " +
      "across maintenance, refs, time travel, catalog SQL, schema DDL " +
      "and DROP; other catalogs and >3 parts fall through") {
    val t = freshTable(Seq((1L, "a", 1.0)))
    graft.lakehouse.LakeRegistry.register("c3db.t3", t)
    spark.sql("OPTIMIZE graft.c3db.t3")
    spark.sql("ALTER TABLE graft.c3db.t3 CREATE TAG v1")
    assert(spark.sql("SELECT * FROM graft.c3db.t3 VERSION AS OF 'v1'")
      .count() == 1)
    assert(spark.sql("DESCRIBE TABLE graft.c3db.t3").collect()
      .map(_.getString(0)).contains("k"))
    assert(spark.sql("SHOW TABLES IN graft.c3db").collect()
      .map(_.getString(1)).toSeq == Seq("t3"))
    spark.sql("ALTER TABLE graft.c3db.t3 ADD COLUMNS (note STRING)")
    assert(t.currentSnapshot.schema.fieldNames.contains("note"))
    // catalog-qualified column references strip whole in DML
    spark.sql("UPDATE graft.c3db.t3 SET note = 'x' " +
      "WHERE graft.c3db.t3.k = 1")
    assert(t.read().filter(col("note") === "x").count() == 1)
    // catalog + BARE name resolves (SHOW TABLES IN graft advertises
    // that address) …
    val tb = freshTable(Seq((7L, "g", 7.0)))
    graft.lakehouse.LakeRegistry.register("t3bare", tb)
    assert(spark.sql("SELECT * FROM graft.t3bare").count() == 1)
    // … unless a table is REGISTERED under a namespace literally
    // named like the catalog — the registered name wins
    val ts2 = freshTable(Seq((8L, "h", 8.0), (9L, "i", 9.0)))
    graft.lakehouse.LakeRegistry.register("graft.shadow", ts2)
    assert(spark.sql("SELECT * FROM graft.shadow").count() == 2)
    graft.lakehouse.LakeRegistry.unregister("graft.shadow")
    graft.lakehouse.LakeRegistry.unregister("t3bare")
    // views create and drop under the catalog prefix too
    spark.sql("CREATE VIEW graft.c3db.v3 AS " +
      "SELECT k FROM graft.c3db.t3 WHERE k = 1")
    assert(spark.sql("SELECT * FROM c3db.v3").count() == 1)
    spark.sql("DROP VIEW graft.c3db.v3")
    // an unconfigured catalog never claims (falls through to Spark's
    // table-not-found), and a 4-part name is out of scope
    intercept[Exception](spark.sql("SELECT * FROM other.c3db.t3").collect())
    intercept[Exception](
      spark.sql("SELECT * FROM graft.x.c3db.t3").collect())
    assert(graft.lakehouse.LakeRegistry.get("c3db.t3").isDefined)
    spark.sql("DROP TABLE graft.c3db.t3")
    assert(graft.lakehouse.LakeRegistry.get("c3db.t3").isEmpty)
  }

  test("SHOW CREATE / TBLPROPERTIES / VIEWS / NAMESPACES edges: bare " +
      "unpartitioned table, missing key, temp-view merge, unknown " +
      "namespace error") {
    val t = freshTable(Seq((1L, "a", 1.0)))
    graft.lakehouse.LakeRegistry.register("sddl_bare", t)
    // minimal table: no partition spec, no properties → two-section
    // statement only
    val create = spark.sql("SHOW CREATE TABLE sddl_bare").head.getString(0)
    assert(create.startsWith("CREATE TABLE sddl_bare (") &&
      !create.contains("PARTITIONED BY") &&
      !create.contains("TBLPROPERTIES") &&
      create.contains("USING graft") && create.contains(t.location),
      s"got:\n$create")
    assert(spark.sql("SHOW TBLPROPERTIES sddl_bare").count() == 0)
    assert(spark.sql("SHOW TBLPROPERTIES sddl_bare ('nope')").count() == 0)
    // SHOW VIEWS merges session temp views with lake views
    Seq(1).toDF("x").createOrReplaceTempView("sddl_tv")
    val views = spark.sql("SHOW VIEWS").collect()
      .map(r => r.getString(1) -> r.getBoolean(2)).toMap
    assert(views.get("sddl_tv").contains(true))
    spark.catalog.dropTempView("sddl_tv")
    // namespaces: the session db lists — bare AND through the
    // built-in spark_catalog addressing; an unknown parent errors,
    // while another REGISTERED catalog plugin is never claimed
    assert(spark.sql("SHOW NAMESPACES").collect()
      .exists(_.getString(0) == "default"))
    assert(spark.sql("SHOW NAMESPACES IN spark_catalog").collect()
      .exists(_.getString(0) == "default"))
    assert(spark.sql("SHOW TABLES IN spark_catalog.default")
      .collect() != null)
    val e = intercept[Exception](
      spark.sql("SHOW NAMESPACES IN no_such_cat_xyz").collect())
    assert(e.getMessage.contains("no_such_cat_xyz"))
    val ev = intercept[Exception](
      spark.sql("SHOW VIEWS IN no_such_db_xyz").collect())
    assert(ev.getMessage.contains("no_such_db_xyz"))
    // SHOW CREATE escapes quotes inside property values: the
    // statement round-trips through ADD CONSTRAINT
    spark.sql("ALTER TABLE sddl_bare ADD CONSTRAINT st " +
      "CHECK (tag IN ('a', 'b'))")
    val c2 = spark.sql("SHOW CREATE TABLE sddl_bare").head.getString(0)
    assert(c2.contains("'tag IN (''a'', ''b'')'"), s"got:\n$c2")
    graft.lakehouse.LakeRegistry.unregister("sddl_bare")
  }

  test("CALL procedures: set_current_snapshot, fast_forward, " +
      "rollback_to_timestamp, and the refusal matrix") {
    val t = freshTable(Seq((1L, "a", 1.0)))
    graft.lakehouse.LakeRegistry.register("callspec.t", t)
    t.append(Seq((2L, "b", 2.0)).toDF("k", "tag", "v"))            // 2
    spark.sql(
      "CALL graft.system.set_current_snapshot('callspec.t', 1)")   // 3
    assert(t.read().count() == 1)
    // timestamp rollback: anything in the future lands on the head —
    // both the procedure and Delta's RESTORE statement form
    spark.sql("CALL graft.system.rollback_to_timestamp(" +
      "table => 'callspec.t', timestamp => TIMESTAMP '2099-01-01 00:00:00')")
    assert(t.currentSnapshotId == 4)
    spark.sql("RESTORE TABLE callspec.t TO TIMESTAMP AS OF " +
      "'2099-01-01 00:00:00'")
    assert(t.currentSnapshotId == 5 && t.read().count() == 1)
    // branch publish through the procedure form: stage a write on a
    // branch ahead of main, then fast-forward main to it
    t.createBranch("audit")
    t.onBranch("audit").append(Seq((3L, "c", 3.0)).toDF("k", "tag", "v"))
    spark.sql("CALL graft.system.fast_forward(" +
      "table => 'callspec.t', branch => 'main', to => 'audit')")
    // rolled-back content (1 row) + the branch-staged append
    assert(t.read().count() == 2,
      "fast_forward must publish the branch head")
    // refusals: unknown procedure, composed expire args, descending
    // sort qualifier, unknown argument
    val e1 = intercept[Exception](spark.sql(
      "CALL graft.system.bogus('callspec.t')"))
    assert(e1.getMessage.contains("unknown procedure"))
    // composed expire (round 19 — Iceberg composes both args): keep
    // max(n newest, everything younger than the cutoff). A PAST
    // cutoff expires nothing however small retain_last…
    val nSnaps = t.snapshots.size
    spark.sql("CALL graft.system.expire_snapshots(" +
      "table => 'callspec.t', " +
      "older_than => TIMESTAMP '2020-01-01', retain_last => 1)")
    assert(t.snapshots.size == nSnaps,
      "a past cutoff composes to expire nothing")
    // …and a cutoff at/after NOW leaves exactly the retain_last
    // floor (plus ref pins), never fewer
    spark.sql("CALL graft.system.expire_snapshots(" +
      "table => 'callspec.t', " +
      "older_than => TIMESTAMP '2099-01-01', retain_last => 2)")
    val left = t.snapshots.map(_.id)
    assert(left.size >= 2 && left.size < nSnaps &&
        left.contains(t.currentSnapshotId) && t.read().count() == 2,
      s"the composed form must keep the retain_last floor: $left")
    // NO retention args = the table's own properties decide
    // (Iceberg's history.expire.* with 5-day/keep-1 defaults)
    t.append(Seq((4L, "d", 4.0)).toDF("k", "tag", "v"))
    t.append(Seq((5L, "e", 5.0)).toDF("k", "tag", "v"))
    val preProps = t.snapshots.size
    t.setProperties(t.properties ++ Map(
      "history.expire.max-snapshot-age-ms" -> "0",
      "history.expire.min-snapshots-to-keep" -> "2"))
    spark.sql("CALL graft.system.expire_snapshots('callspec.t')")
    val after = t.snapshots.map(_.id)
    assert(after.size < preProps && after.size >= 2 &&
        after.contains(t.currentSnapshotId),
      s"property-driven expire must apply the table's own floor: $after")
    // without the props, Iceberg's 5-day default is a no-op on
    // seconds-old commits — the safety direction
    t.setProperties(t.properties -- Seq(
      "history.expire.max-snapshot-age-ms",
      "history.expire.min-snapshots-to-keep"))
    spark.sql("CALL graft.system.expire_snapshots('callspec.t')")
    assert(t.snapshots.map(_.id) == after,
      "default 5-day retention must not expire fresh commits")
    val e3 = intercept[Exception](spark.sql(
      "CALL graft.system.rewrite_data_files(table => 'callspec.t', " +
        "strategy => 'sort', sort_order => 'k DESC')"))
    assert(e3.getMessage.contains("ascending only"))
    // …including the qualified descending and nulls-last forms
    for (so <- Seq("k DESC NULLS FIRST", "k ASC NULLS LAST"))
      assert(intercept[Exception](spark.sql(
        "CALL graft.system.rewrite_data_files(table => 'callspec.t', " +
          s"strategy => 'sort', sort_order => '$so')"))
        .getMessage.contains("ascending only"), so)
    assert(intercept[Exception](spark.sql(
      "CALL graft.system.rewrite_data_files(table => 'callspec.t', " +
        "sort_order => 'zorder')"))
      .getMessage.contains("zorder(col"))
    val e4 = intercept[Exception](spark.sql(
      "CALL graft.system.rewrite_manifests(nope => 'callspec.t')"))
    assert(e4.getMessage.contains("unknown argument"))
    // argument-binding refusals: positional after named, duplicates
    assert(intercept[Exception](spark.sql(
      "CALL graft.system.rollback_to_snapshot(table => 'callspec.t', 5)"))
      .getMessage.contains("positional argument after named"))
    assert(intercept[Exception](spark.sql(
      "CALL graft.system.rollback_to_snapshot('callspec.t', " +
        "table => 'callspec.t')"))
      .getMessage.contains("duplicate argument"))
    // create_changelog_view refuses governed names like the TVF
    graft.fgac.SecureCatalog.governTable("callspec.t", Seq("k"))
    try assert(intercept[Exception](spark.sql(
        "CALL graft.system.create_changelog_view(" +
          "table => 'callspec.t', changelog_view => 'leak_v')"))
      .getMessage.contains("governed"))
    finally graft.fgac.SecureCatalog.ungovern("callspec.t")
    // a CALL under another catalog falls through to Spark (parse
    // error there, never claimed here)
    intercept[Exception](spark.sql(
      "CALL other.system.rewrite_manifests('callspec.t')"))
    graft.lakehouse.LakeRegistry.unregister("callspec.t")
  }

  test("metadata suffix relations: db.t.files et al., registered " +
      "tables win, governed prefixes refuse") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    graft.lakehouse.LakeRegistry.register("msfx.t", t)
    assert(spark.sql("SELECT * FROM msfx.t.files").count() ==
      t.currentSnapshot.files.size)
    assert(spark.sql("SELECT * FROM msfx.t.history").count() == 1)
    assert(spark.sql("SELECT * FROM msfx.t.refs").head.getString(0) ==
      "main")
    // catalog-qualified prefix composes: graft.msfx.t.partitions
    // (4 parts, table prefix strips the catalog)
    intercept[Exception]( // unpartitioned → partitions frame is empty,
      // but a WRONG suffix never claims: falls through to not-found
      spark.sql("SELECT * FROM msfx.t.nonsuffix").collect())
    assert(spark.sql("SELECT * FROM graft.msfx.t.files").count() ==
      t.currentSnapshot.files.size)
    // a REGISTERED table named like a suffix wins over the metadata
    // interpretation
    val shadow = freshTable(Seq((9L, "z", 9.0)))
    graft.lakehouse.LakeRegistry.register("msfx.history", shadow)
    assert(spark.sql("SELECT * FROM msfx.history").count() == 1 &&
      spark.sql("SELECT k FROM msfx.history").head.getLong(0) == 9L,
      "a real table must never be shadowed by the suffix form")
    graft.lakehouse.LakeRegistry.unregister("msfx.history")
    // a temp view shadowing the PREFIX owns its metadata address too
    // (whatever wins the reads wins .files)
    Seq(1).toDF("x").createOrReplaceTempView("msfxshadow")
    graft.lakehouse.LakeRegistry.register("msfxshadow", shadow)
    try intercept[Exception](
      spark.sql("SELECT * FROM msfxshadow.files").collect())
    finally {
      spark.catalog.dropTempView("msfxshadow")
      graft.lakehouse.LakeRegistry.unregister("msfxshadow")
    }
    // a governed prefix never leaks metadata
    graft.fgac.SecureCatalog.governTable("msfx.t", Seq("k"))
    try intercept[Exception](
      spark.sql("SELECT * FROM msfx.t.files").collect())
    finally {
      graft.fgac.SecureCatalog.ungovern("msfx.t")
      graft.lakehouse.LakeRegistry.unregister("msfx.t")
    }
  }

  test("SHOW CREATE TABLE output REPLAYS: CHECK constraints and DDL " +
      "NOT NULL enforce on the recreated table") {
    def refused(frag: String)(body: => Unit): Boolean =
      try { body; false }
      catch { case e: Throwable =>
        Option(e.getMessage).exists(_.contains(frag)) }
    spark.sql(s"""CREATE TABLE rt_src (
      k BIGINT NOT NULL, tag STRING, v DOUBLE)
      USING graft PARTITIONED BY (tag)
      LOCATION '${Files.createTempDirectory("graft_rt_src")}'""")
    spark.sql("ALTER TABLE rt_src ADD CONSTRAINT pos CHECK (v > 0)")
    spark.sql("INSERT INTO rt_src VALUES (1, 'a', 1.0)")
    val stmt = spark.sql("SHOW CREATE TABLE rt_src").head.getString(0)
    val replay = stmt
      .replace("CREATE TABLE rt_src", "CREATE TABLE rt_copy")
      .replaceAll("LOCATION '[^']*'",
        s"LOCATION '${Files.createTempDirectory("graft_rt_copy")}'")
    spark.sql(replay)
    // both declared constraints ENFORCE on the recreated table
    assert(refused("NOT NULL constraint")(spark.sql(
      "INSERT INTO rt_copy VALUES (CAST(NULL AS BIGINT), 'a', 1.0)")))
    assert(refused("CHECK constraint")(spark.sql(
      "INSERT INTO rt_copy VALUES (2, 'a', -1.0)")))
    spark.sql("INSERT INTO rt_copy VALUES (2, 'a', 2.0)")
    assert(spark.sql("SELECT * FROM rt_copy").count() == 1)
    // the copy's own SHOW CREATE matches modulo name and location
    val stmt2 = spark.sql("SHOW CREATE TABLE rt_copy").head.getString(0)
      .replace("rt_copy", "rt_src")
      .replaceAll("LOCATION '[^']*'", "L")
    assert(stmt2 == stmt.replaceAll("LOCATION '[^']*'", "L"),
      s"round-trip drift:\n$stmt2\nvs\n$stmt")
    // a typo'd constraint column still fails the CREATE loudly
    assert(refused("does not analyze")(spark.sql(
      s"""CREATE TABLE rt_bad (k BIGINT) USING graft
        LOCATION '${Files.createTempDirectory("graft_rt_bad")}'
        TBLPROPERTIES ('graft.constraint.x' = 'nope > 0')""")))
    // CTAS keeps refusing the property route (rows WOULD need the
    // validating scan)
    assert(refused("ADD CONSTRAINT")(spark.sql(
      s"""CREATE TABLE rt_ctas USING graft
        LOCATION '${Files.createTempDirectory("graft_rt_ctas")}'
        TBLPROPERTIES ('graft.constraint.x' = 'k > 0')
        AS SELECT * FROM rt_copy""")))
    spark.sql("DROP TABLE rt_src PURGE")
    spark.sql("DROP TABLE rt_copy PURGE")
  }

  test("DROP TABLE claims an on-disk table unknown to the registry") {
    val name = "dropprobe_t"
    val root = spark.conf.get("spark.sql.warehouse.dir")
      .stripSuffix("/") + s"/graft/$name"
    spark.sql(s"CREATE TABLE $name (k BIGINT, v DOUBLE) USING graft")
    spark.sql(s"INSERT INTO $name VALUES (1, 1.0)")
    // simulate a fresh session: the in-memory registry forgot the name
    graft.lakehouse.LakeRegistry.unregister(name)
    spark.sql(s"DROP TABLE $name PURGE") // must probe storage, not error
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root.stripPrefix("file:"))))
  }

  test("optimistic concurrency: real racing appends all land, stale DML conflicts") {
    val t = freshTable(Seq((0L, "seed", 0.0)))
    val writers = (1 to 4).map(_ =>
      GraftTable.load(spark, t.location))
    // four writer handles appending through real threads — the
    // interleaving is arbitrary, the invariant is not: every append
    // must land (rebase on conflict), none may be lost
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val fs = writers.zipWithIndex.map { case (w, i) =>
        Future(w.append(Seq((i + 1L, s"w$i", i * 1.0)).toDF("k", "tag", "v")))
      }
      Await.result(Future.sequence(fs), scala.concurrent.duration.Duration(180, "s"))
    } finally pool.shutdown()
    assert(t.currentSnapshotId == 5, "each append = one commit")
    assert(t.read().select("k").as[Long].collect().sorted
      .sameElements(Array(0L, 1L, 2L, 3L, 4L)), "no append may be lost")
    // a DML commit built on a stale snapshot must conflict, not publish
    intercept[graft.lakehouse.CommitConflictException](
      t.commit("delete", t.snapshot(2L))(_.copy(files = Nil)))
    assert(t.currentSnapshotId == 5 && t.read().count() == 5)
  }

  test("disjoint-partition DELETEs both commit via rebase; " +
      "overlapping DML still conflicts") {
    val dir = Files.createTempDirectory("graft_spec").toString
    val t = GraftTable.create(spark,
      dir,
      Seq((1L, "p1", 1.0), (2L, "p1", 2.0), (3L, "p2", 3.0),
        (4L, "p2", 4.0)).toDF("k", "tag", "v"),
      partitionBy = Seq("tag"))
    // writer B captures its base, then writer A lands first: B's
    // commit is now stale — but the two deletes touch disjoint
    // partitions (disjoint file sets), so B must REBASE and land,
    // not throw (Iceberg's partition-scoped conflict validation)
    val base = t.currentSnapshot
    t.delete("k = 1")                  // writer A: partition p1
    t.deleteAt(base, "k = 3")          // writer B, stale: partition p2
    assert(t.read().select("k").as[Long].collect().sorted
      .sameElements(Array(2L, 4L)), "both deletes must apply")
    // overlapping writers: both rewrite the p1 file — the loser's
    // read set is gone at the new head, a true conflict
    val base2 = t.currentSnapshot
    t.delete("k = 2")
    val e = intercept[graft.lakehouse.CommitConflictException](
      t.deleteAt(base2, "k = 2 AND v >= 0"))
    assert(e.getMessage.contains("read for write"))
    // serializable isolation: a concurrent append that may match the
    // predicate blocks the rebase; snapshot isolation scopes the
    // DELETE to its read snapshot and lets the new row survive
    t.append(Seq((5L, "p2", 5.0)).toDF("k", "tag", "v"))
    val base3 = t.currentSnapshot
    t.append(Seq((6L, "p2", 6.0)).toDF("k", "tag", "v"))
    intercept[graft.lakehouse.CommitConflictException](
      t.deleteAt(base3, "k = 6"))
    t.setProperties(t.properties +
      ("write.dml.isolation-level" -> "snapshot"))
    t.deleteAt(t.snapshot(base3.id), "k = 6")
    assert(t.read().filter(col("k") === 6).count() == 1,
      "snapshot isolation: the concurrently appended row is out of " +
        "the stale DELETE's scope and must survive")
  }

  test("per-operation isolation override beats the table-wide level, " +
      "and unknown levels fail loud") {
    val dir = Files.createTempDirectory("graft_spec").toString
    val t = GraftTable.create(spark, dir,
      Seq((1L, "p1", 1.0), (2L, "p2", 2.0)).toDF("k", "tag", "v"),
      partitionBy = Seq("tag"))
    // table-wide serializable (the default) with MERGE overridden to
    // snapshot — Iceberg's write.merge.isolation-level
    t.setProperties(t.properties +
      ("write.merge.isolation-level" -> "snapshot"))
    val base = t.currentSnapshot
    t.append(Seq((3L, "p1", 3.0)).toDF("k", "tag", "v"))
    // DELETE still runs under table-wide serializable: the concurrent
    // append may match its predicate, so the rebase is refused
    intercept[graft.lakehouse.CommitConflictException](
      t.deleteAt(t.snapshot(base.id), "k = 3"))
    // the MERGE from the same stale base lands under its per-op
    // snapshot override (serializable refuses: MERGE carries no
    // predicate, so it cannot prove concurrently added files unmatched)
    t.mergeAt(t.snapshot(base.id),
      Seq((1L, "p1", 10.0)).toDF("k", "tag", "v"), Seq("k"),
      Seq(graft.lakehouse.MergeClause.Update(None, Map.empty),
        graft.lakehouse.MergeClause.Insert(None, Map.empty)))
    assert(t.read().filter(col("k") === 1 && col("v") === 10.0).count() == 1,
      "the overridden merge must rebase and apply")
    assert(t.read().filter(col("k") === 3).count() == 1,
      "snapshot-scoped merge must keep the concurrently appended row")
    // vice versa: table-wide snapshot with DELETE overridden to
    // serializable — the per-op level must win in the strict direction too
    t.setProperties(t.properties - "write.merge.isolation-level" +
      ("write.dml.isolation-level" -> "snapshot") +
      ("write.delete.isolation-level" -> "serializable"))
    val base2 = t.currentSnapshot
    t.append(Seq((4L, "p2", 4.0)).toDF("k", "tag", "v"))
    intercept[graft.lakehouse.CommitConflictException](
      t.deleteAt(t.snapshot(base2.id), "k = 4"))
    // a typo'd level must throw at DML entry, not silently run under
    // weaker snapshot semantics (Iceberg IsolationLevel.fromName)
    t.setProperties(t.properties +
      ("write.delete.isolation-level" -> "serialisable"))
    val ex = intercept[IllegalArgumentException](t.delete("k = 2"))
    assert(ex.getMessage.contains("unknown isolation level"))
    // and the SQL front-end accepts the per-op keys (they were
    // allowlist-rejected before, making the knob unreachable from DDL)
    graft.lakehouse.LakeRegistry.unregister("iso_ddl_t")
    spark.sql(
      s"""CREATE TABLE iso_ddl_t (k BIGINT, v DOUBLE) USING graft
         |LOCATION '$dir/iso_ddl_t'
         |TBLPROPERTIES ('write.merge.isolation-level'='snapshot')"""
        .stripMargin)
    val ddlT = graft.lakehouse.LakeRegistry.get("iso_ddl_t").get
    assert(ddlT.properties("write.merge.isolation-level") == "snapshot")
  }

  test("nested schema evolution: add/rename/drop struct fields across " +
      "epochs, NULL structs survive the rename rebuild") {
    val rows = Seq((1L, Some(("a", 1.0))), (2L, None))
      .toDF("k", "raw")
      .select(col("k"), when(col("raw").isNotNull,
        struct(col("raw._1").as("s"), col("raw._2").as("b")))
        .as("info"))
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_nested").toString, rows)
    // epoch 2: add info.extra, insert a row carrying it
    t.addColumns(Seq(org.apache.spark.sql.types.StructField(
      "info.extra", org.apache.spark.sql.types.StringType)))
    t.append(Seq((3L, "c", 3.0, "X")).toDF("k", "s", "b", "extra")
      .select(col("k"), struct(col("s"), col("b"), col("extra")).as("info")))
    // epoch 3: rename info.b -> bal, drop info.s
    t.renameColumn("info.b", "bal")
    t.dropColumn("info.s")
    val got = t.read().select(col("k"), col("info.bal").as("bal"),
      col("info.extra").as("extra"), col("info").isNull.as("gone"))
      .orderBy("k").collect()
    assert(got.length == 3)
    assert(got(0).getDouble(1) == 1.0 && got(0).isNullAt(2),
      "epoch-1 file: renamed bal readable, added extra is NULL")
    assert(got(1).getBoolean(3),
      "a NULL struct must stay NULL through the rename rebuild, not " +
        "resurrect as a row of NULL fields")
    assert(got(2).getDouble(1) == 3.0 && got(2).getString(2) == "X")
    // guard rails: reusing a retired nested name refuses; renaming a
    // nested field to a dotted name refuses
    val ex = intercept[IllegalArgumentException](t.addColumns(Seq(
      org.apache.spark.sql.types.StructField("info.s",
        org.apache.spark.sql.types.StringType))))
    assert(ex.getMessage.contains("renamed or dropped"))
    intercept[IllegalArgumentException](t.renameColumn("info.bal", "x.y"))
  }

  test("storage-partitioned join: two bucket[n](k) lake tables join " +
      "with zero Exchange and match the naive join") {
    val orders = graft.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"))
    val cust = graft.Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_name"))
    val t1 = GraftTable.create(spark,
      Files.createTempDirectory("graft_spj1").toString, orders,
      partitionBy = Seq("bucket[4](o_custkey)"))
    val t2 = GraftTable.create(spark,
      Files.createTempDirectory("graft_spj2").toString, cust,
      partitionBy = Seq("bucket[4](c_custkey)"))
    val a = graft.lakehouse.Spj.read(spark, "spj_t_orders", t1)
    val b = graft.lakehouse.Spj.read(spark, "spj_t_cust", t2)
    val oldBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val oldAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // AQE wraps the plan in a leaf AdaptiveSparkPlanExec that hides
      // inner exchanges from collect — disable for the plan assertion
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val j = a.join(b, col("o_custkey") === col("c_custkey"))
      val shuffles = j.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.isEmpty,
        s"lake bucketed join must be shuffle-free:\n${j.queryExecution.executedPlan}")
      val naive = orders.join(cust, col("o_custkey") === col("c_custkey"))
      assert(j.count() == naive.count() && naive.count() > 0)
      assert(j.except(naive).count() == 0 && naive.except(j).count() == 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBc)
      spark.conf.set("spark.sql.adaptive.enabled", oldAqe)
    }
    // pushed filters prune on the manifest alone: a bucket-column
    // equality hashes to ONE bucket's splits; an impossible range
    // prunes every file via stats (zero input partitions, no I/O)
    val k = orders.select("o_custkey").head.getLong(0)
    val one = a.filter(col("o_custkey") === k)
    assert(one.rdd.getNumPartitions <= 1,
      "bucket-column equality must scan at most one bucket")
    assert(one.count() ==
      orders.filter(col("o_custkey") === k).count() && one.count() > 0)
    val none = a.filter(col("o_custkey") < 0L)
    assert(none.rdd.getNumPartitions == 0 && none.count() == 0,
      "stats must prune an impossible predicate to zero splits")
    // a FILTERED side joins correctly even when pruning leaves it
    // with fewer bucket values than the other side (the planner pads
    // the missing partitions rather than falling back to a shuffle)
    val jf = a.filter(col("o_custkey") === k)
      .join(b, col("o_custkey") === col("c_custkey"))
    val nf = orders.filter(col("o_custkey") === k)
      .join(cust, col("o_custkey") === col("c_custkey"))
    assert(jf.count() == nf.count() && nf.count() > 0,
      "pruned-side SPJ join must match the naive filtered join")
    // ineligible shapes refuse the fast path loudly
    val t3 = GraftTable.create(spark,
      Files.createTempDirectory("graft_spj3").toString,
      Seq((1L, "x")).toDF("k", "tag"))
    val ex = intercept[UnsupportedOperationException](
      graft.lakehouse.Spj.read(spark, "spj_t_plain", t3).count())
    assert(ex.getMessage.contains("storage-partitioned"))
  }

  test("initial defaults: pre-add files read the default, post-add " +
      "NULLs stay NULL, rewrites materialize the value") {
    import org.apache.spark.sql.types.{StringType, StructField}
    def withDefault(name: String, sql: String) =
      StructField(name, StringType, nullable = true,
        metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .putString(GraftTable.DefaultSqlKey, sql).build())
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    t.addColumns(Seq(withDefault("tier", "'basic'")))
    t.append(Seq((3L, "c", 3.0, "gold"), (4L, "d", 4.0, null))
      .toDF("k", "tag", "v", "tier"))
    def tiers: Map[Long, String] = t.read().select("k", "tier")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(tiers(1L) == "basic" && tiers(2L) == "basic",
      "pre-add rows must read the default")
    assert(tiers(3L) == "gold" && tiers(4L) == null,
      "post-add rows keep written values; explicit NULL stays NULL")
    // a copy-on-write rewrite of a pre-add file must MATERIALIZE the
    // default into the new file, not lose it to the new add-sequence
    t.delete("k = 1")
    assert(tiers(2L) == "basic",
      "the rewritten survivor must keep its default")
    // write-default: a writer omitting the defaulted column writes
    // the default value; omitting any other column stays an error
    t.append(Seq((5L, "e", 5.0)).toDF("k", "tag", "v"))
    assert(tiers(5L) == "basic",
      "an append without the defaulted column must write the default")
    intercept[IllegalArgumentException](
      t.append(Seq((6L, 6.0)).toDF("k", "v")))
    // a default that cannot evaluate as the column type refuses at
    // ALTER time, not at some future read
    intercept[IllegalArgumentException](t.addColumns(Seq(
      StructField("z", org.apache.spark.sql.types.IntegerType,
        nullable = true,
        metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .putString(GraftTable.DefaultSqlKey, "'abc'").build()))))
  }

  test("CREATE TABLE with DEFAULT columns acts as a write-default") {
    val dir = Files.createTempDirectory("graft_ctdef").toString
    graft.lakehouse.LakeRegistry.unregister("def_ct")
    spark.sql(
      s"""CREATE TABLE def_ct (k BIGINT, tier STRING DEFAULT 'basic')
         |USING graft LOCATION '$dir/def_ct'""".stripMargin)
    val t = graft.lakehouse.LakeRegistry.get("def_ct").get
    t.append(Seq(Tuple1(1L)).toDF("k"))
    t.append(Seq((2L, "gold")).toDF("k", "tier"))
    val got = t.read().orderBy("k").collect()
    assert(got(0).getString(1) == "basic" && got(1).getString(1) == "gold")
    // a bad DEFAULT fails the CREATE, not some future write
    val ex = intercept[IllegalArgumentException](spark.sql(
      s"""CREATE TABLE def_bad (k BIGINT, z INT DEFAULT 'abc')
         |USING graft LOCATION '$dir/def_bad'""".stripMargin))
    assert(ex.getMessage.contains("DEFAULT"))
  }

  test("binpack rewrites only sub-threshold files, composes with " +
      "renames, refuses pending MoR deletes") {
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_bp").toString,
      (1L to 1000L).map(k => (k, s"t$k", k * 1.0)).toDF("k", "tag", "v")
        .coalesce(1))
    (1 to 3).foreach(i => t.append(
      Seq((1000L + i, "x", 0.0)).toDF("k", "tag", "v")))
    t.renameColumn("v", "value") // epoch mapping must survive binpack
    val snap0 = t.currentSnapshot
    val thr = snap0.files.flatMap(snap0.fileSizes.get).max
    t.compactSmall(thr)
    val snap1 = t.currentSnapshot
    assert(snap1.op == "binpack")
    assert(snap1.files.toSet.intersect(snap0.files.toSet).nonEmpty,
      "the large file must carry forward by reference")
    assert(snap1.files.size < snap0.files.size)
    assert(t.read().count() == 1003 &&
      t.read().agg(sum(col("value"))).head.getDouble(0) ==
        (1L to 1000L).map(_ * 1.0).sum,
      "renamed column must read identically across old and packed files")
    // no-op when fewer than two files qualify (no empty commit)
    val before = t.currentSnapshotId
    t.compactSmall(1L)
    assert(t.currentSnapshotId == before)
    // pending MoR deletes refuse (sequence scoping would detach)
    t.deleteMoR("k = 2")
    val ex = intercept[IllegalArgumentException](t.compactSmall(thr))
    assert(ex.getMessage.contains("binpack"))
  }

  test("stats pruning evaluates OR as a union of may-match sets") {
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_or").toString,
      (1L to 30L).map(k => (k, s"t$k", k * 1.0)).toDF("k", "tag", "v"))
    t.compact(3, sortBy = Seq("k")) // 3 files with disjoint k ranges
    val snap = t.currentSnapshot
    assert(snap.files.size == 3)
    val kept = t.pruneByStats(snap, "k <= 5 OR k >= 26")
    assert(kept.size == 2,
      s"OR of two range predicates must keep exactly the two edge " +
        s"files (kept ${kept.size} of ${snap.files.size})")
    // an arm the pruner cannot reason about keeps everything (sound)
    assert(t.pruneByStats(snap, "k <= 5 OR v / v > 0").size == 3)
    // AND still intersects below an OR
    assert(t.pruneByStats(snap, "(k <= 5 OR k >= 26) AND k > 20").size == 1)
    // end-to-end: rows equal the plain filter
    assert(t.readWhere("k <= 5 OR k >= 26").count() == 10)
  }

  test("manifests carry per-file sizes (harvested once, carried by " +
      "reference) so planners never stat files") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    t.append(Seq((3L, "c", 3.0)).toDF("k", "tag", "v"))
    val snap = t.currentSnapshot
    assert(snap.files.nonEmpty &&
      snap.files.forall(snap.fileSizes.contains),
      "every data file must have a manifest-recorded size")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    snap.files.foreach { f =>
      assert(snap.fileSizes(f) ==
        fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen,
        s"manifest size must equal on-disk size for $f")
    }
    // a metadata-only commit carries the sizes forward by reference
    t.delete("k = -1")
    val snap2 = t.currentSnapshot
    assert(snap2.files.forall(snap2.fileSizes.contains))
    // and the files metadata table surfaces them (Iceberg's
    // file_size_in_bytes column)
    assert(t.filesMetadata.filter(col("size_bytes").isNull).count() == 0)
  }

  test("FGAC policy composes with the SPJ read path") {
    // Enforcer.secure rewrites the plan, so row filters and column
    // allow-lists govern a storage-partitioned scan exactly as a
    // plain one — the governed-fact-join-at-scale composition.
    val cust = graft.Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_spjgov").toString, cust,
      partitionBy = Seq("bucket[4](c_custkey)"))
    val secured = fgac.Enforcer.secure(
      graft.lakehouse.Spj.read(spark, "spj_gov_cust", t),
      fgac.TablePolicy("spj_gov_cust",
        rowFilter = Some("c_acctbal > 5000"),
        allowedColumns = Some(Seq("c_custkey", "c_acctbal"))),
      "team1")
    assert(secured.columns.toSeq == Seq("c_custkey", "c_acctbal"))
    assert(secured.count() ==
      cust.filter(col("c_acctbal") > 5000).count() && secured.count() > 0)
  }

  test("readWhereIn prunes fact files by dim join keys, keeps " +
      "semi-join semantics, degrades un-pruned past maxKeys") {
    val dir = Files.createTempDirectory("graft_spec").toString
    val df = (1L to 64L).map(k => (k, s"t$k", k * 1.0)).toDF("k", "tag", "v")
    val t = GraftTable.create(spark, dir, df,
      partitionBy = Seq("bucket[16](k)"))
    val dim = Seq((3L, "x"), (17L, "y")).toDF("dk", "name")
    val snap = t.currentSnapshot
    val pruned = t.pruneByKeys(snap, "k", Seq(3L, 17L))
    assert(pruned.nonEmpty && pruned.size < snap.files.size,
      s"2 keys must hit <=2 of 16 bucket dirs (${pruned.size} of " +
        s"${snap.files.size})")
    val rows = t.readWhereIn("k", dim, "dk")
      .select("k").as[Long].collect().sorted
    assert(rows.sameElements(Array(3L, 17L)))
    // past maxKeys: same rows, no pruning, loud log instead of an
    // unbounded driver key collect
    val rows2 = t.readWhereIn("k", dim, "dk", maxKeys = 1)
      .select("k").as[Long].collect().sorted
    assert(rows2.sameElements(Array(3L, 17L)))
    // a dim with only null keys matches nothing (IN / semi-join are
    // null-rejecting) and plans zero fact files
    val nullDim = Seq[(Option[Long], String)]((None, "n"))
      .toDF("dk", "name")
    assert(t.readWhereIn("k", nullDim, "dk").count() == 0)
  }

  // one input per positional delete shape: tombstone files and
  // deletion vectors rebase through the same DML edit and check
  for ((style, shape, overlap) <- Seq(
      ("position", "tombstones", "position deletes target"),
      ("vector", "vectors", "deletion vector landed"))) {
    test(s"MoR $style-delete rebase: disjoint targets compose, " +
        s"same-file $shape conflict") {
      val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
      t.append(Seq((3L, "c", 3.0), (4L, "d", 4.0)).toDF("k", "tag", "v"))
      def deleteAt(base: graft.lakehouse.Snapshot, pred: String): Long =
        if (style == "vector") t.deleteMoRDvAt(base, pred)
        else t.deleteMoRPosAt(base, pred)
      val base = t.currentSnapshot
      deleteAt(t.currentSnapshot, "k = 1") // deletes from the first file
      deleteAt(base, "k = 3")    // stale, targets the second file
      assert(t.read().select("k").as[Long].collect().sorted
        .sameElements(Array(2L, 4L)), "both MoR deletes must apply")
      if (style == "vector") {
        val head = t.currentSnapshot
        assert(head.dvs.size == 2 && head.dvCards.values.sum == 2,
          s"the rebased vector must join the winner's: ${head.dvCards}")
      }
      // overlap: both delete rows of the SAME file — the second
      // writer may have deleted the same row; a second update would
      // diverge, so file-level overlap is a true conflict
      val base2 = t.currentSnapshot
      deleteAt(t.currentSnapshot, "k = 2")
      val e = intercept[graft.lakehouse.CommitConflictException](
        deleteAt(base2, "k = 2 AND v >= 0"))
      assert(e.getMessage.contains(overlap), e.getMessage)
    }
  }

  test("write-audit-publish: staged rows invisible, publish rebases, abandon cleans") {
    val t = freshTable(Seq((1L, "a", 1.0)))
    val tok = t.stageAppend(Seq((2L, "b", 2.0)).toDF("k", "tag", "v"))
    assert(t.read().count() == 1 && t.currentSnapshotId == 1,
      "staged rows must not be visible and must not commit")
    assert(t.readStaged(tok).count() == 2, "audit sees the would-be state")
    // a commit lands between stage and publish → publish must rebase
    t.append(Seq((3L, "c", 3.0)).toDF("k", "tag", "v"))
    t.publish(tok)
    assert(t.read().select("k").as[Long].collect().sorted
      .sameElements(Array(1L, 2L, 3L)))
    val tok2 = t.stageAppend(Seq((9L, "x", 9.0)).toDF("k", "tag", "v"))
    val stagedFiles = t.read().inputFiles.length
    t.abandon(tok2)
    assert(t.read().count() == 3 && t.snapshots.size == 3)
    intercept[Exception](t.readStaged(tok2)) // manifest gone
  }

  test("assignments resolve case-insensitively; unknown columns rejected") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    graft.lakehouse.LakeRegistry.register("sqlci_t", t)
    // Spark SQL is case-insensitive: SET V must hit column v, not no-op
    spark.sql("UPDATE sqlci_t SET V = 42.0 WHERE K = 1")
    assert(t.read().filter("k = 1").select("v").as[Double].head() == 42.0)
    Seq((2L, "B", 20.0), (3L, "c", 3.0)).toDF("k", "tag", "v")
      .createOrReplaceTempView("sqlci_src")
    spark.sql(
      """MERGE INTO sqlci_t t USING sqlci_src s ON t.K = s.K
        |WHEN MATCHED THEN UPDATE SET TAG = s.tag
        |WHEN NOT MATCHED THEN INSERT (K, TAG, V) VALUES (s.k, s.tag, s.v)
        |""".stripMargin)
    val got = t.read().orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    // k=3's key must be 3, not NULL (a case-missed INSERT (K,...) map
    // would have silently inserted NULL for k)
    assert(got.toSeq == Seq((1L, "a", 42.0), (2L, "B", 2.0), (3L, "c", 3.0)))
    val e = intercept[IllegalArgumentException](
      t.update(Map("nope" -> "1"), "true"))
    assert(e.getMessage.contains("unknown column"))
  }

  test("MERGE with unaliased source: table-name-qualified refs resolve") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    graft.lakehouse.LakeRegistry.register("sqlua_t", t)
    Seq((2L, "B", 20.0), (4L, "d", 4.0)).toDF("k", "tag", "v")
      .createOrReplaceTempView("sqlua_src")
    spark.sql(
      """MERGE INTO sqlua_t USING sqlua_src ON sqlua_t.k = sqlua_src.k
        |WHEN MATCHED THEN UPDATE SET v = sqlua_src.v
        |WHEN NOT MATCHED THEN
        |  INSERT (k, tag, v) VALUES (sqlua_src.k, sqlua_src.tag, sqlua_src.v)
        |""".stripMargin)
    val got = t.read().orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, "a", 1.0), (2L, "b", 20.0), (4L, "d", 4.0)))
  }

  test("merge cardinality: duplicate insert-only keys allowed, matched dups rejected") {
    val t = freshTable(Seq((1L, "a", 1.0)))
    // two source rows for k=5 match NO target row — both insert
    // (Iceberg semantics); only multiple matches per target row fail
    t.merge(Seq((5L, "x", 1.0), (5L, "y", 2.0), (1L, "A", 10.0))
      .toDF("k", "tag", "v"), "k")
    assert(t.read().count() == 3)
    assert(t.read().filter("k = 1").select("tag").as[String].head() == "A")
    val e = intercept[IllegalArgumentException](
      t.merge(Seq((1L, "p", 1.0), (1L, "q", 2.0)).toDF("k", "tag", "v"), "k"))
    assert(e.getMessage.contains("duplicate"))
    // the failed merge must not have committed (the in-join raise
    // aborts the write before any manifest publish)
    val snapBefore = t.currentSnapshotId
    assert(t.read().filter("k = 1").select("tag").as[String].head() == "A")
    // merge-on-read mode goes through the tombstone path — the same
    // in-join guard must fire there too
    t.setProperties(Map("write.merge.mode" -> "merge-on-read"))
    val e2 = intercept[IllegalArgumentException](
      t.merge(Seq((1L, "p", 1.0), (1L, "q", 2.0)).toDF("k", "tag", "v"), "k"))
    assert(e2.getMessage.contains("duplicate"))
    assert(t.currentSnapshotId == snapBefore,
      "failed MoR merge must not commit")
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE updates/deletes unmatched " +
      "target rows; duplicate sources cannot duplicate them; MoR refuses") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0),
      (4L, "d", -4.0)))
    graft.lakehouse.LakeRegistry.register("mbs_t", t)
    Seq((2L, 20.0)).toDF("k", "nv").createOrReplaceTempView("mbs_src")
    spark.sql(
      """MERGE INTO mbs_t t USING mbs_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.nv
        |WHEN NOT MATCHED BY SOURCE AND t.v < 0 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET tag = 'stale'
        |""".stripMargin)
    val got = t.read().orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, "stale", 1.0), (2L, "b", 20.0),
      (3L, "stale", 3.0)),
      s"matched updated, negatives deleted, others marked: ${got.toSeq}")
    // by-source-only merge against a DUPLICATE-keyed source: matched
    // rows stay as-is and must not duplicate through the join
    val t2 = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    t2.merge(Seq((1L, "x", 0.0), (1L, "y", 0.0)).toDF("k", "tag", "v"),
      Seq("k"), Seq(graft.lakehouse.MergeClause.UpdateBySource(None, Map("tag" -> "'gone'"))))
    val got2 = t2.read().orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got2.toSeq == Seq((1L, "a"), (2L, "gone")))
    // a by-source clause referencing a SOURCE column refuses at
    // analysis (it would silently evaluate to NULL through the join)
    val e0 = intercept[IllegalArgumentException](
      spark.sql(
        """MERGE INTO mbs_t t USING mbs_src s ON t.k = s.k
          |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = s.nv
          |""".stripMargin))
    assert(e0.getMessage.contains("target columns only"))
    // merge-on-read refuses by-source clauses loudly
    t2.setProperties(Map("write.merge.mode" -> "merge-on-read"))
    val e = intercept[IllegalArgumentException](
      t2.merge(Seq((1L, "z", 0.0)).toDF("k", "tag", "v"), Seq("k"),
        Seq(graft.lakehouse.MergeClause.DeleteBySource(None))))
    assert(e.getMessage.contains("copy-on-write"))
  }

  test("INSERT OVERWRITE keeps the table's schema and column types") {
    val t = freshTable(Seq((1L, "a", 1.0)))
    graft.lakehouse.LakeRegistry.register("sqlow_t", t)
    val schemaBefore = t.currentSnapshot.schema
    // INT literals must be cast to the table's BIGINT/DOUBLE, and the
    // committed schema must stay the table's, not the query's
    spark.sql("INSERT OVERWRITE TABLE sqlow_t VALUES (2, 'b', 3)")
    assert(t.currentSnapshot.schema == schemaBefore)
    assert(t.read().select("v").as[Double].head() == 3.0)
    intercept[IllegalArgumentException](
      spark.sql("INSERT OVERWRITE TABLE sqlow_t VALUES (2, 'b', 'oops')"))
  }

  test("CREATE IF NOT EXISTS re-registers existing storage after a restart") {
    val loc = Files.createTempDirectory("graft_fresh").toString
    spark.sql(
      s"CREATE TABLE sqlfr_t (k BIGINT, v DOUBLE) USING graft LOCATION '$loc'")
    spark.sql("INSERT INTO sqlfr_t VALUES (1, 1.0)")
    // simulate a fresh session: registry is in-memory, storage is not
    graft.lakehouse.LakeRegistry.unregister("sqlfr_t")
    spark.sql(s"CREATE TABLE IF NOT EXISTS sqlfr_t (k BIGINT, v DOUBLE) " +
      s"USING graft LOCATION '$loc'")
    assert(graft.lakehouse.LakeRegistry.get("sqlfr_t").isDefined)
    assert(spark.sql("SELECT * FROM sqlfr_t").count() == 1,
      "IF NOT EXISTS over existing storage must re-register, not recreate")
    graft.lakehouse.LakeRegistry.unregister("sqlfr_t")
    assert(intercept[Exception](spark.sql(
      s"CREATE TABLE sqlfr_t (k BIGINT, v DOUBLE) USING graft LOCATION '$loc'"))
      .getMessage.contains("already exists"))
  }

  test("SQL DDL: CREATE TABLE / CTAS / SELECT / DROP lifecycle") {
    val loc = Files.createTempDirectory("graft_ddl").toString
    val loc2 = Files.createTempDirectory("graft_ddl2").toString
    spark.sql(
      s"""CREATE TABLE sqlddl_t (k BIGINT, tag STRING, v DOUBLE)
         |USING graft PARTITIONED BY (tag) LOCATION '$loc'""".stripMargin)
    // empty table is readable with the declared schema
    val empty = spark.sql("SELECT * FROM sqlddl_t")
    assert(empty.columns.toSeq == Seq("k", "tag", "v") && empty.count() == 0)
    spark.sql("INSERT INTO sqlddl_t VALUES (1, 'a', 1.0), (2, 'b', 2.0), (3, 'a', 3.0)")
    // partition spec came from DDL: files are hive-laid-out by tag
    val t = graft.lakehouse.LakeRegistry.get("sqlddl_t").get
    assert(t.currentSnapshot.partitionCols == Seq("tag"))
    assert(t.currentSnapshot.files.forall(_.contains("tag=")))
    // IF NOT EXISTS is a no-op; plain re-create is an error
    spark.sql(s"CREATE TABLE IF NOT EXISTS sqlddl_t (x INT) USING graft LOCATION '$loc'")
    assert(intercept[Exception](
      spark.sql(s"CREATE TABLE sqlddl_t (x INT) USING graft LOCATION '$loc'"))
      .getMessage.contains("already exists"))
    // CTAS reads through the SQL read path
    spark.sql(
      s"""CREATE TABLE sqlddl_hi USING graft LOCATION '$loc2'
         |AS SELECT k, v FROM sqlddl_t WHERE v >= 2.0""".stripMargin)
    val joined = spark.sql(
      """SELECT t.k, t.tag, h.v FROM sqlddl_t t
        |JOIN sqlddl_hi h ON t.k = h.k ORDER BY t.k""".stripMargin).collect()
    assert(joined.map(_.getLong(0)).toSeq == Seq(2L, 3L))
    // DROP unregisters; PURGE deletes storage
    spark.sql("DROP TABLE sqlddl_hi PURGE")
    assert(graft.lakehouse.LakeRegistry.get("sqlddl_hi").isEmpty)
    assert(!new java.io.File(loc2, "_graft_meta").exists())
    spark.sql("DROP TABLE sqlddl_t")
    assert(graft.lakehouse.LakeRegistry.get("sqlddl_t").isEmpty)
    assert(new java.io.File(loc, "_graft_meta").exists()) // no purge: files stay
  }

  test("schema evolution: old rows read NULL for the added column") {
    val t = freshTable(Seq((1L, "a", 1.0)))
    t.appendEvolved(Seq((2L, "b", 2.0, "x")).toDF("k", "tag", "v", "extra"))
    val got = t.read().orderBy("k").collect()
    assert(got(0).isNullAt(got(0).fieldIndex("extra")))
    assert(got(1).getString(got(1).fieldIndex("extra")) == "x")
    // time travel predates the column entirely
    assert(!t.readAt(1).columns.contains("extra"))
  }

  test("incremental read returns exactly the delta") {
    val t = freshTable(Seq((1L, "a", 1.0)))
    t.append(Seq((2L, "b", 2.0)).toDF("k", "tag", "v"))
    t.append(Seq((3L, "c", 3.0)).toDF("k", "tag", "v"))
    val delta = t.incrementalRead(1, 3).select("k").as[Long].collect().sorted
    assert(delta.sameElements(Array(2L, 3L)))
  }

  test("compaction shrinks file count, preserves data") {
    val t = freshTable(Seq((1L, "a", 1.0)))
    (2 to 5).foreach(i => t.append(Seq((i.toLong, "x", i.toDouble)).toDF("k", "tag", "v")))
    val before = t.currentSnapshot.files.size
    t.compact(1)
    assert(t.currentSnapshot.files.size == 1 && before > 1)
    assert(t.read().count() == 5)
  }

  test("partitioned table prunes by manifest and DML preserves partitioning") {
    val df = Seq((1L, "F", 1.0), (2L, "O", 2.0), (3L, "F", 3.0), (4L, "P", 4.0))
      .toDF("k", "status", "v")
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_part").toString, df,
      partitionBy = Seq("status"))
    val pruned = t.readPruned("status", Set("F"))
    assert(pruned.select("k").as[Long].collect().sorted.sameElements(Array(1L, 3L)))
    assert(pruned.inputFiles.length < t.currentSnapshot.files.size)
    // copy-on-write DML keeps the hive layout
    t.delete("k = 3")
    assert(t.currentSnapshot.partitionCols == Seq("status"))
    assert(t.readPruned("status", Set("F")).select("k").as[Long].collect()
      .sameElements(Array(1L)))
    assert(t.read().count() == 3)
  }

  test("expireSnapshots drops history and orphaned files, keeps data") {
    val t = freshTable(Seq((1L, "a", 1.0)))
    t.append(Seq((2L, "b", 2.0)).toDF("k", "tag", "v"))
    t.overwrite(Seq((9L, "z", 9.0)).toDF("k", "tag", "v"))
    val orphans = t.snapshot(1).files
    t.expireSnapshots(keepLast = 1)
    assert(t.snapshots.map(_.id) == Seq(3L))
    assert(t.read().select("k").as[Long].collect().sameElements(Array(9L)))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    orphans.foreach(f =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(f)), s"orphan survived: $f"))
  }

  test("delete keeps NULL-predicate rows (SQL semantics)") {
    val df = Seq((1L, Some("x"), 1.0), (2L, None, 2.0), (3L, Some("y"), 3.0))
      .toDF("k", "tag", "v")
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_nulldel").toString, df)
    t.delete("tag = 'x'")
    // row 2 has tag NULL → predicate NULL → must NOT be deleted
    val kept = t.read().select("k").as[Long].collect().sorted
    assert(kept.sameElements(Array(2L, 3L)), s"got ${kept.toList}")
  }

  test("TBLPROPERTIES write.delete.mode=merge-on-read routes SQL DELETE") {
    val loc = Files.createTempDirectory("graft_morsql").toString
    spark.sql(
      s"""CREATE TABLE morsql_t (k BIGINT, v DOUBLE) USING graft
         |TBLPROPERTIES ('write.delete.mode'='merge-on-read')
         |LOCATION '$loc'""".stripMargin)
    spark.sql("INSERT INTO morsql_t VALUES (1, 1.0), (2, -1.0)")
    val t = graft.lakehouse.LakeRegistry.get("morsql_t").get
    assert(t.deleteMode == "merge-on-read")
    val files = t.currentSnapshot.files
    spark.sql("DELETE FROM morsql_t WHERE v < 0")
    assert(t.currentSnapshot.files == files, "MoR DELETE must not rewrite")
    assert(t.currentSnapshot.dels.nonEmpty)
    assert(spark.sql("SELECT k FROM morsql_t").as[Long].collect()
      .sameElements(Array(1L)))
    // unsupported properties are rejected at parse time, not persisted
    intercept[Exception](spark.sql(
      "CREATE TABLE badprop_t (k INT) USING graft " +
        "TBLPROPERTIES ('write.format'='orc')"))
  }

  test("SQL time travel: VERSION AS OF reads the named snapshot") {
    val t = freshTable(Seq((1L, "a", 1.0)))
    t.append(Seq((2L, "b", 2.0)).toDF("k", "tag", "v"))
    graft.lakehouse.LakeRegistry.register("tt_t", t)
    assert(spark.sql("SELECT count(*) FROM tt_t VERSION AS OF 1")
      .as[Long].head() == 1L)
    assert(spark.sql("SELECT count(*) FROM tt_t VERSION AS OF 2")
      .as[Long].head() == 2L)
    // snapshots carry no wall-clock: TIMESTAMP AS OF must fail loudly
    intercept[Exception](spark.sql(
      "SELECT * FROM tt_t TIMESTAMP AS OF '2020-01-01'").collect())
  }

  test("merge-on-read delete: O(1) commit, sequence scoping, materialize") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", -1.0)))
    val filesBefore = t.currentSnapshot.files
    t.deleteMoR("v < 0")
    // no rewrite happened, but the row is gone from reads
    assert(t.currentSnapshot.files == filesBefore)
    assert(t.read().select("k").as[Long].collect().sameElements(Array(1L)))
    // time travel still sees it
    assert(t.readAt(1).count() == 2)
    // sequence rule: a matching row appended AFTER the delete survives
    t.append(Seq((3L, "c", -5.0)).toDF("k", "tag", "v"))
    assert(t.read().orderBy("k").select("k").as[Long].collect()
      .sameElements(Array(1L, 3L)))
    // NULL predicate rows survive (SQL DELETE semantics)
    val t2 = freshTable(Seq((1L, "a", 1.0)))
    t2.appendEvolved(Seq((2L, "b", 2.0, "x")).toDF("k", "tag", "v", "extra"))
    t2.deleteMoR("extra = 'x'") // row 1 has NULL extra → survives
    assert(t2.read().count() == 1)
    // copy-on-write DML is rejected until materialized
    intercept[IllegalArgumentException](t.delete("k = 1"))
    intercept[IllegalArgumentException](t.update(Map("v" -> "0.0"), "k = 1"))
    // compaction materializes: same data, cleared predicates
    val live = t.read().orderBy("k").collect().map(_.getLong(0))
    t.compact(2)
    assert(t.currentSnapshot.dels.isEmpty)
    assert(t.read().orderBy("k").collect().map(_.getLong(0))
      .sameElements(live))
    t.delete("k = 1") // COW DML allowed again
    assert(t.read().select("k").as[Long].collect().sameElements(Array(3L)))
    // rollback to the pre-compaction snapshot restores the delete set
    val t3 = freshTable(Seq((10L, "z", -2.0), (11L, "y", 2.0)))
    t3.deleteMoR("v < 0") // snap 2
    t3.compact(1) // snap 3: materialized
    t3.rollback(2) // snap 4: delete predicate active again
    assert(t3.currentSnapshot.dels.nonEmpty && t3.read().count() == 1)
  }

  test("footer harvest: a ±Infinity double drops only that column's " +
      "bounds, never the file's counts") {
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_spec").toString,
      Seq((1L, "a", 1.0), (2L, "b", Double.PositiveInfinity),
        (3L, "c", Double.NegativeInfinity)).toDF("k", "tag", "v").coalesce(1))
    val snap = t.currentSnapshot
    assert(snap.files.size == 1)
    val f = snap.files.head
    assert(snap.fileRows.get(f).contains(3L), "record count must survive")
    assert(snap.fileSizes.get(f).exists(_ > 0), "byte size must survive")
    assert(snap.stats(f)("k") == graft.lakehouse.ColStat("n", Some("1"),
      Some("3"), 0L), "finite columns keep their bounds")
    assert(snap.stats(f).get("v").forall(s => s.mn.isEmpty && s.mx.isEmpty),
      "a non-finite bound is withheld")
    // a withheld bound cannot prune: the infinite rows stay reachable
    assert(t.readWhere("v > 5").count() == 1)
    assert(t.readWhere("v < -5").count() == 1)
    val parts = t.partitionsMeta().select("record_count", "total_bytes")
      .collect()
    assert(parts.length == 1 && parts.head.getLong(0) == 3L &&
      parts.head.getLong(1) > 0L, parts.toSeq)
  }

  test("a commit reads only its new files' footers: a carried file " +
      "without column stats is not read again") {
    // an array-only file yields no column stats, so it has no `fstat`
    // entry — keying "new" on the stats map would re-read it forever
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_spec").toString,
      Seq(Seq(1, 2), Seq(3)).toDF("xs"))
    val carried = t.currentSnapshot
    assert(carried.files.forall(carried.stats.get(_).forall(_.isEmpty)))
    val moved = carried.files.map { f =>
      val p = java.nio.file.Paths.get(
        new org.apache.hadoop.fs.Path(f).toUri.getPath)
      p -> Files.move(p, p.resolveSibling(p.getFileName.toString + ".aside"))
    }
    val id =
      try t.append(Seq(Seq(4)).toDF("xs"))
      finally moved.foreach { case (p, aside) => Files.move(aside, p) }
    val snap = t.snapshot(id)
    assert(carried.files.forall(f =>
      snap.fileRows.get(f) == carried.fileRows.get(f) &&
        snap.fileSizes.get(f) == carried.fileSizes.get(f)))
    assert(t.read().count() == 3)
  }

  test("stats skipping: manifest min/max prunes files, results unchanged") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    t.append(Seq((10L, "c", 3.0), (11L, "d", 4.0)).toDF("k", "tag", "v"))
    t.append(Seq((20L, "e", 5.0)).toDF("k", "tag", "v"))
    val snap = t.currentSnapshot
    assert(snap.stats.nonEmpty, "commit must harvest footer stats")
    // numeric range prunes the [1,2] and [20,20] files
    val pruned = t.pruneByStats(snap, "k >= 10 AND k < 20")
    assert(pruned.nonEmpty && pruned.size < snap.files.size)
    val got = t.readWhere("k >= 10 AND k < 20")
      .orderBy("k").select("k").as[Long].collect()
    assert(got.sameElements(Array(10L, 11L)))
    // string equality prunes on min/max too
    assert(t.pruneByStats(snap, "tag = 'e'").size < snap.files.size)
    // shapes stats cannot decide prune nothing (conservative)
    assert(t.pruneByStats(snap, "k % 2 = 0").size == snap.files.size)
    // stats survive copy-on-write DML: rewritten files get fresh stats
    t.delete("k = 11")
    val snap2 = t.currentSnapshot
    assert(t.pruneByStats(snap2, "k >= 20").size < snap2.files.size)
    assert(t.readWhere("k >= 10").orderBy("k").select("k").as[Long]
      .collect().sameElements(Array(10L, 20L)))
  }

  test("publish is a no-overwrite CAS on local FS (cross-process safety)") {
    // POSIX rename(2) replaces an existing destination, so the local
    // publish must be link(2)-based: simulate another OS process
    // having already published the same snapshot id and assert the
    // loser neither wins nor clobbers the winner's manifest bytes.
    val t = freshTable(Seq((1L, "a", 1.0)))
    val meta = java.nio.file.Paths.get(t.location, "_graft_meta")
    val winner = meta.resolve("snap-00099.meta")
    Files.write(winner, "winner".getBytes)
    val tmp = meta.resolve("snap-00099.meta.attempt2.tmp")
    Files.write(tmp, "loser".getBytes)
    assert(!t.publishNoOverwrite(
      new org.apache.hadoop.fs.Path(tmp.toUri),
      new org.apache.hadoop.fs.Path(winner.toUri)))
    assert(new String(Files.readAllBytes(winner)) == "winner")
    // and with no pre-existing destination the publish succeeds
    val dest2 = meta.resolve("snap-00100.meta")
    val tmp2 = meta.resolve("snap-00100.meta.attempt1.tmp")
    Files.write(tmp2, "published".getBytes)
    assert(t.publishNoOverwrite(
      new org.apache.hadoop.fs.Path(tmp2.toUri),
      new org.apache.hadoop.fs.Path(dest2.toUri)))
    assert(new String(Files.readAllBytes(dest2)) == "published")
    assert(!Files.exists(tmp2))
  }

  test("expireSnapshots is repeatable and commit survives tmp leftovers") {
    val dir = Files.createTempDirectory("graft_expire2")
    val t = GraftTable.create(spark, dir.toString,
      Seq((1L, "a", 1.0)).toDF("k", "tag", "v"))
    t.append(Seq((2L, "b", 2.0)).toDF("k", "tag", "v"))
    t.expireSnapshots(1)
    // a crashed commit leaves a .tmp manifest behind — the table must
    // still parse snapshot ids (regression: "...meta.tmp".toLong)
    Files.writeString(
      dir.resolve("_graft_meta").resolve("snap-00099.meta.tmp"), "junk")
    t.append(Seq((3L, "c", 3.0)).toDF("k", "tag", "v"))
    t.expireSnapshots(1) // second expiry must not touch missing manifests
    assert(t.read().count() == 3)
    assert(t.snapshots.map(_.id) == Seq(3L))
  }

  test("age-based expiry: refs and head survive, SQL interval form") {
    val t = freshTable(Seq((1L, "a", 1.0)))                 // snap 1
    Thread.sleep(3)
    t.append(Seq((2L, "b", 2.0)).toDF("k", "tag", "v"))     // snap 2
    t.createTag("keepme", 1)
    Thread.sleep(3)
    t.append(Seq((3L, "c", 3.0)).toDF("k", "tag", "v"))     // snap 3
    // cutoff AFTER every commit: only the pin and the head survive
    t.expireSnapshotsOlderThan(t.snapshot(3).ts + 1)
    assert(t.snapshots.map(_.id) == Seq(1L, 3L),
      "tag-pinned snap 1 and the head must survive any cutoff")
    assert(t.readAt(t.refs("keepme")._2).count() == 1)
    // a cutoff below every ts expires nothing
    t.expireSnapshotsOlderThan(0L)
    assert(t.snapshots.map(_.id) == Seq(1L, 3L))
    // SQL interval form with a zero window = expire all eligible —
    // here a no-op since only pinned+head remain; then drop the tag
    // and the zero window reaps snap 1 through SQL
    graft.lakehouse.LakeRegistry.register("exp_age_t", t)
    t.dropRef("keepme")
    Thread.sleep(3)
    spark.sql("VACUUM exp_age_t OLDER THAN INTERVAL 0 MINUTES")
    assert(t.snapshots.map(_.id) == Seq(3L),
      "unpinned old snapshot must expire through the SQL form")
    assert(t.read().count() == 3)
  }

  test("RTAS: atomic replace preserves history, gates writes, " +
      "OR CREATE creates") {
    import graft.fgac.{AccessDeniedException, FgacQueries, Principal,
      SecureCatalog, TablePolicy}
    import graft.lakehouse.LakeRegistry
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    LakeRegistry.register("rtas_t", t)
    // replace: ONE commit, new schema, history reads the old world
    spark.sql("""CREATE OR REPLACE TABLE rtas_t USING graft AS
                |SELECT 1 AS n UNION ALL SELECT 2 AS n""".stripMargin)
    assert(t.currentSnapshot.op == "replace" &&
      t.currentSnapshot.id == 2L)
    assert(t.read().schema.fieldNames.toSeq == Seq("n") &&
      t.read().count() == 2)
    assert(t.readAt(1).schema.fieldNames.toSeq == Seq("k", "tag", "v") &&
      t.readAt(1).count() == 2,
      "time travel across the replace boundary reads the old schema")
    // REPLACE covers table metadata: properties reset to exactly the
    // statement's TBLPROPERTIES — none were written, so none survive
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    spark.sql("""CREATE OR REPLACE TABLE rtas_t USING graft AS
                |SELECT 5 AS n""".stripMargin)
    assert(t.properties.isEmpty,
      "a replace without TBLPROPERTIES must not inherit old properties")
    // OR CREATE on a missing name degrades to CTAS
    spark.sql("CREATE OR REPLACE TABLE rtas_new USING graft AS SELECT 7 AS x")
    assert(LakeRegistry.get("rtas_new").exists(_.read().count() == 1))
    spark.sql("DROP TABLE rtas_new PURGE")
    // a read-only principal may not replace a governed table
    SecureCatalog.governTable("rtas_t", Seq("n"))
    SecureCatalog.register(Principal("rtas_reader", grants = Map(
      "rtas_t" -> TablePolicy("rtas_t"))))
    try {
      intercept[AccessDeniedException](
        FgacQueries.asPrincipal(spark, "rtas_reader")(
          spark.sql("""CREATE OR REPLACE TABLE rtas_t USING graft AS
                      |SELECT 9 AS n""".stripMargin)))
      assert(t.read().count() == 1, "denied replace must not commit")
    } finally SecureCatalog.ungovern("rtas_t")
  }

  test("row lineage: ids never reused after rollback, hidden columns " +
      "stay hidden, refusals are loud") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))    // snap 1
    t.setProperties(Map(GraftTable.RowLineageProp -> "true"))
    // pre-enable files have no ids yet: refuse with the catch-up hint
    val e0 = intercept[IllegalArgumentException](t.readLineage())
    assert(e0.getMessage.contains("commit once"))
    t.append(Seq((3L, "c", 3.0)).toDF("k", "tag", "v"))        // snap 2
    val lin = t.readLineage()
    assert(lin.columns.takeRight(2).toSeq ==
      Seq("_row_id", "_last_updated_sequence_number"))
    assert(lin.select("_row_id").distinct().count() == 3)
    // snap-1 rows read their ORIGINAL add-sequence even though their
    // ids were assigned late (seq comes from fseq, not assignment time)
    assert(lin.filter(col("k") <= 2)
      .filter(col("_last_updated_sequence_number") === 1L).count() == 2)
    val maxId = lin.agg(max("_row_id")).head.getLong(0)
    // COW update preserves ids; the rewritten file's carried rows too
    t.update(Map("v" -> "v + 10"), "k = 1")                    // snap 3
    val lin3 = t.readLineage()
    assert(lin3.filter(col("k") === 1)
      .head.getAs[Long]("_last_updated_sequence_number") == 3L)
    assert(lin3.select("_row_id").as[Long].collect().toSet ==
      lin.select("_row_id").as[Long].collect().toSet,
      "update must not mint or lose row ids")
    // the hidden materialized columns never leak into a normal read
    assert(t.read().columns.toSeq == Seq("k", "tag", "v"))
    // rollback then append: the id counter never reuses ranges
    t.rollback(2)                                              // snap 4
    t.append(Seq((9L, "z", 9.0)).toDF("k", "tag", "v"))        // snap 5
    val lin5 = t.readLineage()
    assert(lin5.filter(col("k") === 9)
      .head.getAs[Long]("_row_id") > maxId,
      "rolled-back id ranges must never be reused")
    // MoR DML refuses loudly on lineage tables (COW only)
    intercept[UnsupportedOperationException](t.deleteMoR("k = 3"))
    // COW MERGE preserves lineage: matched rows keep ids and bump
    // their sequence, inserts mint fresh ids, carried rows untouched
    val pre = t.readLineage().select("k", "_row_id")
      .as[(Long, Long)].collect().toMap
    t.merge(Seq((3L, "c2", 30.0), (77L, "new", 7.0))
      .toDF("k", "tag", "v"), "k")                           // snap 6
    val lm = t.readLineage()
    def of(k: Long) = lm.filter(col("k") === k).head
    assert(of(3).getAs[Long]("_row_id") == pre(3L),
      "MERGE-updated row must keep its _row_id")
    assert(of(3).getAs[Long]("_last_updated_sequence_number") == 6L,
      "MERGE-updated row must carry the merge's sequence")
    assert(of(1).getAs[Long]("_row_id") == pre(1L) &&
      of(1).getAs[Long]("_last_updated_sequence_number") == 1L,
      "rows the MERGE never touched keep id AND sequence")
    assert(of(77).getAs[Long]("_row_id") > pre.values.max,
      "MERGE-inserted row must mint a fresh id")
    assert(lm.select("_row_id").distinct().count() == lm.count())
  }

  test("row lineage composes with deletion vectors: survivors keep " +
      "ids, compaction materializes, equality deletes still refuse") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))    // snap 1
    t.setProperties(Map(GraftTable.RowLineageProp -> "true",
      "write.delete.mode" -> "merge-on-read",
      "write.delete.style" -> "vector"))
    t.append(Seq((3L, "c", 3.0), (4L, "d", 4.0))
      .toDF("k", "tag", "v"))                                  // snap 2
    val pre = t.readLineage()
      .select("k", "_row_id", "_last_updated_sequence_number")
      .as[(Long, Long, Long)].collect().toSet
    val files = t.currentSnapshot.files
    t.deleteMoRDv("k = 2")                                     // snap 3
    assert(t.currentSnapshot.files == files &&
      t.currentSnapshot.dvs.nonEmpty,
      "the vector delete must not rewrite data files")
    val lin = t.readLineage()
      .select("k", "_row_id", "_last_updated_sequence_number")
      .as[(Long, Long, Long)].collect().toSet
    assert(lin == pre.filterNot(_._1 == 2L),
      "DV-deleted rows vanish; every survivor keeps id AND sequence")
    // compaction materializes the vectors; lineage bit-unchanged
    t.compact(1)                                               // snap 4
    assert(t.currentSnapshot.dvs.isEmpty)
    assert(t.readLineage()
      .select("k", "_row_id", "_last_updated_sequence_number")
      .as[(Long, Long, Long)].collect().toSet == lin)
    // equality deletes still refuse (no row-position identity);
    // POSITION tombstones now COMPOSE — Iceberg v3 pairs lineage
    // with both delete shapes
    intercept[UnsupportedOperationException](t.deleteMoR("k = 3"))
    val files4 = t.currentSnapshot.files
    val pre4 = t.readLineage()
      .select("k", "_row_id", "_last_updated_sequence_number")
      .as[(Long, Long, Long)].collect().toSet
    t.deleteMoRPos("k = 3")                                    // snap 5
    assert(t.currentSnapshot.files == files4 &&
      t.currentSnapshot.posDels.nonEmpty,
      "the position delete must tombstone, not rewrite data files")
    assert(t.readLineage()
      .select("k", "_row_id", "_last_updated_sequence_number")
      .as[(Long, Long, Long)].collect().toSet ==
      pre4.filterNot(_._1 == 3L),
      "tombstoned rows vanish; every survivor keeps id AND sequence")
    // compaction materializes the tombstones, lineage bit-unchanged
    t.compact(1)                                               // snap 6
    assert(t.currentSnapshot.posDels.isEmpty)
    assert(t.readLineage()
      .select("k", "_row_id", "_last_updated_sequence_number")
      .as[(Long, Long, Long)].collect().toSet ==
      pre4.filterNot(_._1 == 3L))
    // position-style MoR UPDATE preserves identity: old image
    // tombstones, new image materializes the carried id with this
    // commit's sequence
    val df2 = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "tag", "v")
    val t2 = GraftTable.createEmpty(spark,
      Files.createTempDirectory("graft_linpos").toString,
      df2.schema)                                              // snap 1
    t2.setProperties(Map(GraftTable.RowLineageProp -> "true",
      "write.update.mode" -> "merge-on-read",
      "write.delete.style" -> "position"))
    t2.append(df2)                                             // snap 2
    val preU = t2.readLineage().select("k", "_row_id")
      .as[(Long, Long)].collect().toMap
    t2.updateMoRPos(Map("v" -> "v * 10"), "k = 2")             // snap 3
    val postU = t2.readLineage()
    assert(postU.filter(col("k") === 2).head.getAs[Long]("_row_id")
      == preU(2L), "position-MoR UPDATE must keep the row's id")
    assert(postU.filter(col("k") === 2)
      .head.getAs[Long]("_last_updated_sequence_number") == 3L)
    assert(postU.filter(col("k") === 1)
      .head.getAs[Long]("_last_updated_sequence_number") == 2L,
      "untouched rows keep their sequence under tombstones")
    // the tombstone-diff changelog leg: one keyed update, final image
    val feed = t2.lineageChanges(2, 3).select("k", "_change_type", "v")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSet
    assert(feed == Set((2L, "update", 20.0)),
      s"position-MoR UPDATE must net to one keyed update: $feed")
  }

  test("first post-enable commit: COW UPDATE/MERGE and MoR position " +
      "UPDATE assign ids instead of wedging") {
    // no file has a first-row-id range between enable and the first
    // commit — every DML shape must read plain and let its own
    // commit assign ranges, not refuse on the completeness require
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    t.setProperties(Map(GraftTable.RowLineageProp -> "true"))
    t.update(Map("v" -> "v + 1"), "k = 1") // first post-enable commit
    val lin = t.readLineage()
    assert(lin.count() == 2 &&
      lin.select("_row_id").distinct().count() == 2)
    assert(lin.filter(col("k") === 1).head.getAs[Double]("v") == 2.0)
    val t2 = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    t2.setProperties(Map(GraftTable.RowLineageProp -> "true"))
    t2.merge(Seq((2L, "B", 20.0), (3L, "C", 30.0))
      .toDF("k", "tag", "v"), "k") // first post-enable commit
    assert(t2.readLineage().select("_row_id").distinct().count() == 3)
    val t3 = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    t3.setProperties(Map(GraftTable.RowLineageProp -> "true",
      "write.update.mode" -> "merge-on-read",
      "write.delete.style" -> "position"))
    t3.updateMoRPos(Map("v" -> "v * 2"), "k = 2") // first post-enable
    val l3 = t3.readLineage()
    assert(l3.count() == 2 &&
      l3.select("_row_id").distinct().count() == 2)
    assert(l3.filter(col("k") === 2).head.getAs[Double]("v") == 4.0)
  }

  test("lineage changelog: value swaps and double rewrites pair by " +
      "id, in-range insert+delete nets to zero") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))    // snap 1
    t.setProperties(Map(GraftTable.RowLineageProp -> "true"))
    t.append(Seq((3L, "c", 3.0)).toDF("k", "tag", "v"))        // snap 2
    // VALUE SWAP: rows 1 and 2 exchange v — a content-matched
    // changelog would cancel them (old 1.0 pairs with new 1.0 from
    // the OTHER row); the id-keyed feed reports both updates
    t.update(Map("v" -> ("CASE WHEN k = 1 THEN 2.0 " +
      "WHEN k = 2 THEN 1.0 ELSE v END")), "k IN (1, 2)")       // snap 3
    // double rewrite of one logical row: must net to ONE update
    // carrying the final image
    t.update(Map("v" -> "v + 10"), "k = 3")                    // snap 4
    t.update(Map("v" -> "v * 2"), "k = 3")                     // snap 5
    // inserted then deleted inside the range: net zero
    t.append(Seq((9L, "z", 9.0)).toDF("k", "tag", "v"))        // snap 6
    t.delete("k = 9")                                          // snap 7
    val feed = t.lineageChanges(2, t.currentSnapshotId)
      .select("k", "_change_type", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(feed == Set(
      (1L, "update", 2.0), (2L, "update", 1.0),
      (3L, "update", 26.0)),
      s"got $feed")
  }

  test("lineage on a SHARDED manifest: enablement persists through " +
      "shard re-render, counter stays put, wedge states resolve") {
    val dir = Files.createTempDirectory("graft_linshard").toString
    val t = GraftTable.create(spark, dir,
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "tag", "v")
        .repartition(2))
    // shard threshold 2: the next append spills entries into shards
    t.setProperties(Map(GraftTable.ShardFilesProp -> "2"))
    t.append(Seq((3L, "c", 3.0), (4L, "d", 4.0)).toDF("k", "tag", "v")
      .repartition(2))
    assert(t.currentSnapshot.shards.nonEmpty,
      "precondition: the manifest must actually be sharded")
    // enable lineage AFTER sharding — the catch-up assignment must
    // re-render carried shards (immutable copies hold no frid lines)
    t.setProperties(Map(GraftTable.ShardFilesProp -> "2",
      GraftTable.RowLineageProp -> "true"))
    t.append(Seq((5L, "e", 5.0)).toDF("k", "tag", "v"))
    val lin = t.readLineage()
    assert(lin.count() == 5 &&
      lin.select("_row_id").distinct().count() == 5)
    val ctr = t.currentSnapshot.nextRowId
    t.append(Seq((6L, "f", 6.0)).toDF("k", "tag", "v"))
    assert(t.currentSnapshot.nextRowId == ctr + 1,
      "a settled table's counter advances by exactly the new rows " +
        "(re-assignment would inflate it by the whole table)")
    // wedge states resolve: rename/DEFAULT refuse on lineage tables…
    intercept[UnsupportedOperationException](t.renameColumn("tag", "t2"))
    intercept[UnsupportedOperationException](t.addColumns(Seq(
      org.apache.spark.sql.types.StructField("w",
        org.apache.spark.sql.types.StringType, metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .putString(GraftTable.DefaultSqlKey, "'x'").build()))))
    // …and a PRE-enable rename compacts its way out (fresh ids)
    val t2 = freshTable(Seq((1L, "a", 1.0)))
    t2.renameColumn("tag", "label")
    t2.setProperties(Map(GraftTable.RowLineageProp -> "true"))
    t2.append(Seq((2L, "b", 2.0)).toDF("k", "label", "v"))
    t2.compact(1) // the remedy must not self-refuse
    assert(t2.readLineage().count() == 2)
  }

  test("lineage changelog composes with deletion vectors: pointer " +
      "moves emit keyed deletes, rollback emits un-deletes, the " +
      "stream never wedges") {
    import org.apache.spark.sql.streaming.Trigger
    val base = Seq((1L, "a", 1.0), (2L, "b", 2.0),
      (3L, "c", 3.0), (4L, "d", 4.0)).toDF("k", "tag", "v")
    val t = GraftTable.createEmpty(spark,
      Files.createTempDirectory("graft_lincdcdv").toString, base.schema)
    t.setProperties(Map(GraftTable.RowLineageProp -> "true",
      "write.delete.mode" -> "merge-on-read",
      "write.delete.style" -> "vector"))
    t.append(base.repartition(1))                              // snap 2
    val ids = t.readLineage().select("k", "_row_id")
      .as[(Long, Long)].collect().toMap
    t.deleteMoRDv("k = 2")                                     // snap 3
    t.deleteMoRDv("k = 3")                                     // snap 4 (same file!)
    val feed = t.lineageChanges(2, 4).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("_change_type"),
        r.getAs[Long]("_row_id"))).toSet
    assert(feed == Set((2L, "delete", ids(2L)), (3L, "delete", ids(3L))),
      s"DV pointer moves must emit keyed deletes with TRUE row ids: $feed")
    // rollback clears the bits: the range emits keyed UN-deletes
    t.rollback(2)                                              // snap 5
    val undel = t.lineageChanges(4, 5).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("_change_type"),
        r.getAs[Long]("_row_id"))).toSet
    assert(undel == Set((2L, "insert", ids(2L)), (3L, "insert", ids(3L))))
    // the streaming feed advances THROUGH the DV commits (this is the
    // wedge the composition exists to prevent: endpoint snapshots are
    // immutable, so no later compaction could ever unwedge a refusal)
    val qn = "lin_dv_feed_" +
      java.util.UUID.randomUUID.toString.replace("-", "").take(12)
    val q = spark.readStream.format("graft-lake")
      .option("readChangeFeed", "lineage")
      .option("maxCommitsPerTrigger", 1).load(t.location)
      .writeStream.format("memory").queryName(qn)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val events = spark.table(qn).groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    // 4 inserts, 2 dv deletes, 2 un-deletes — no batch wedged
    assert(events == Map("insert" -> 6L, "delete" -> 2L), s"got $events")
  }

  test("lineage changelog composes with EQUALITY deletes: keyed " +
      "deletes with true rids, rollback restores the same rids, " +
      "compaction preserves ids, the stream drains through") {
    import org.apache.spark.sql.streaming.Trigger
    val base = Seq((1L, "a", 1.0), (2L, "b", 2.0),
      (3L, "a", 3.0), (4L, "d", 4.0)).toDF("k", "tag", "v")
    val t = GraftTable.createEmpty(spark,
      Files.createTempDirectory("graft_lineq").toString, base.schema)
    val morEq = Map(GraftTable.RowLineageProp -> "true",
      "write.delete.mode" -> "merge-on-read",
      "write.delete.style" -> "equality")
    t.setProperties(morEq)
    t.append(base.repartition(1))                            // snap 2
    val ids = t.readLineage().select("k", "_row_id")
      .as[(Long, Long)].collect().toMap
    // committing an eq delete while lineage is ON still refuses
    // (Iceberg v3's contract); the lineage-off window is the
    // reachable path — first-row-ids carry across it by reference
    intercept[UnsupportedOperationException](t.deleteMoR("tag = 'a'"))
    t.setProperties(morEq + (GraftTable.RowLineageProp -> "false"))
    t.deleteMoR("tag = 'a'")                                 // snap 3
    t.setProperties(morEq)
    assert(t.currentSnapshot.dels.nonEmpty)
    // the plain lineage read composes: killed rows vanish, every
    // survivor keeps its id
    assert(t.readLineage().select("k", "_row_id")
      .as[(Long, Long)].collect().toMap ==
      ids.view.filterKeys(k => k != 1L && k != 3L).toMap)
    // the keyed feed across the eq commit: keyed deletes, TRUE rids
    val feed = t.lineageChanges(2, 3).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("_change_type"),
        r.getAs[Long]("_row_id"))).toSet
    assert(feed == Set((1L, "delete", ids(1L)), (3L, "delete", ids(3L))),
      s"the predicate diff must emit keyed deletes with true ids: $feed")
    // sequence scoping: a post-predicate append inserts IN FULL even
    // where it matches the predicate's text
    t.append(Seq((5L, "a", 5.0)).toDF("k", "tag", "v"))      // snap 4
    assert(t.read().filter(col("k") === 5).count() == 1)
    assert(t.lineageChanges(3, 4).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("_change_type")))
      .toSet == Set((5L, "insert")))
    // rollback ACROSS the predicate: the removed predicate restores
    // exactly the rids the delete range emitted (id preservation)
    t.rollback(2)                                            // snap 5
    val undel = t.lineageChanges(4, 5).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("_change_type"),
        r.getAs[Long]("_row_id"))).toSet
    assert(undel == Set((1L, "insert", ids(1L)),
      (3L, "insert", ids(3L)), (5L, "delete", ids.values.max + 1)),
      s"rollback must restore the same rids: $undel")
    // roll forward to the predicate-bearing state, then compact:
    // compaction MATERIALIZES the predicate while PRESERVING ids
    t.rollback(3)                                            // snap 6
    val pre6 = t.readLineage()
      .select("k", "_row_id", "_last_updated_sequence_number")
      .as[(Long, Long, Long)].collect().toSet
    t.compact(1)                                             // snap 7
    assert(t.currentSnapshot.dels.isEmpty)
    assert(t.readLineage()
      .select("k", "_row_id", "_last_updated_sequence_number")
      .as[(Long, Long, Long)].collect().toSet == pre6,
      "compaction over a pending predicate must keep survivor ids " +
        "and sequences")
    // a pure materialization nets to NOTHING in the feed
    assert(t.lineageChanges(6, 7).count() == 0)
    // the streaming lineage feed drains THROUGH all of it — the
    // wedge this composition exists to prevent (endpoints are
    // immutable; compact() could never unwedge a refused range)
    val qn = "lin_eq_feed_" +
      java.util.UUID.randomUUID.toString.replace("-", "").take(12)
    val q = spark.readStream.format("graft-lake")
      .option("readChangeFeed", "lineage")
      .option("maxCommitsPerTrigger", 1).load(t.location)
      .writeStream.format("memory").queryName(qn)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val events = spark.table(qn).groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    // inserts: 4 initial + k5 + 2 restores = 7; deletes: 2 eq +
    // k5's rollback + 2 re-applied by the roll-forward = 5; the
    // compact batch nets empty
    assert(events == Map("insert" -> 7L, "delete" -> 5L), s"got $events")
  }

  test("streaming start offsets: startingTimestamp resolves through " +
      "the as-of walk; a checkpointed restart ignores the option " +
      "(offsets win)") {
    import org.apache.spark.sql.streaming.Trigger
    val t = freshTable(Seq((1L, "a", 1.0)))                  // snap 1
    Thread.sleep(5) // commit timestamps must be distinguishable
    t.append(Seq((2L, "b", 2.0)).toDF("k", "tag", "v"))      // snap 2
    val ts2 = t.ancestorsOf().find(_._1 == 2L).get._2
    Thread.sleep(5)
    t.append(Seq((3L, "c", 3.0)).toDF("k", "tag", "v"))      // snap 3
    val zone = java.time.ZoneId.of(
      spark.sessionState.conf.sessionLocalTimeZone)
    val tsStr = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .format(java.time.Instant.ofEpochMilli(ts2).atZone(zone))
    val qn1 = "startts_" +
      java.util.UUID.randomUUID.toString.replace("-", "").take(12)
    val q1 = spark.readStream.format("graft-lake")
      .option("startingTimestamp", tsStr).load(t.location)
      .writeStream.format("memory").queryName(qn1)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination()
    // Delta's convention: commits AT or AFTER the instant stream —
    // snap 2 committed exactly at ts2, so it must be included
    assert(spark.table(qn1).select("k").as[Long].collect()
        .sorted.toSeq == Seq(2L, 3L),
      "startingTimestamp must stream commits at-or-after the instant")
    // an instant predating every commit = full replay (Delta again)
    val qn0 = "startts0_" +
      java.util.UUID.randomUUID.toString.replace("-", "").take(12)
    val q0 = spark.readStream.format("graft-lake")
      .option("startingTimestamp", "1990-01-01 00:00:00")
      .load(t.location)
      .writeStream.format("memory").queryName(qn0)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q0.awaitTermination()
    assert(spark.table(qn0).select("k").as[Long].collect()
        .sorted.toSeq == Seq(1L, 2L, 3L),
      "a pre-history startingTimestamp must replay from the beginning")
    // checkpointed restart: the logged offsets win over ANY start
    // option (Delta's startingVersion semantics) — a restart with a
    // DIFFERENT option must not replay or skip
    val ck = Files.createTempDirectory("graft_startoff_ck").toString
    val out = Files.createTempDirectory("graft_startoff_out").toString
    def drain(startId: Long): Unit = {
      val q = spark.readStream.format("graft-lake")
        .option("startingSnapshotId", startId).load(t.location)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain(2L)                 // delivers snap 3 only
    t.append(Seq((4L, "d", 4.0)).toDF("k", "tag", "v"))      // snap 4
    drain(0L)                 // offsets win: ONLY snap 4 delivers
    assert(spark.read.parquet(out).select("k").as[Long].collect()
        .sorted.toSeq == Seq(3L, 4L),
      "a restart must resume from the checkpoint, ignoring the option")
    // the DATA-LOSS direction: a restart with a start option LATER
    // than the logged offset must NOT skip the undelivered
    // (checkpoint, option] range — logged offsets win upward too
    t.append(Seq((5L, "e", 5.0)).toDF("k", "tag", "v"))      // snap 5
    drain(t.currentSnapshot.id)  // option points AT the new head
    assert(spark.read.parquet(out).select("k").as[Long].collect()
        .sorted.toSeq == Seq(3L, 4L, 5L),
      "a later start option on an existing checkpoint must not skip " +
        "the undelivered range (checkpoint offsets win over ANY option)")
    // mutually-exclusive options refuse
    val e = intercept[IllegalArgumentException](
      spark.readStream.format("graft-lake")
        .option("startingSnapshotId", 2)
        .option("startingTimestamp", tsStr).load(t.location))
    assert(e.getMessage.contains("mutually exclusive"))
  }

  test("streaming start check: a missing snapshot is not live, a " +
      "live snapshot's unreadable manifest fails with its parse error") {
    import org.apache.spark.sql.streaming.Trigger
    val t = freshTable(Seq((1L, "a", 1.0)))
    t.append(Seq((2L, "b", 2.0)).toDF("k", "tag", "v"))
    def msgs(x: Throwable): List[String] =
      if (x == null) Nil
      else s"${x.getClass.getName}: ${x.getMessage}" :: msgs(x.getCause)
    def start(id: Long): List[String] = msgs(intercept[Exception] {
      spark.readStream.format("graft-lake")
        .option("startingSnapshotId", id).load(t.location)
        .writeStream.format("memory")
        .queryName("startchk_" +
          java.util.UUID.randomUUID.toString.replace("-", "").take(12))
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    })
    assert(start(99L).exists(_.contains("is not a live snapshot")))
    // truncate snapshot 1's manifest inside its schema line: the
    // snapshot is live, so the start must report the parse fault
    val manifest = java.nio.file.Paths.get(t.location, "_graft_meta",
      "snap-00001.meta")
    val body = new String(Files.readAllBytes(manifest), "UTF-8")
    val cut = body.indexOf("schema=") + 20
    assert(cut > 20, body)
    Files.write(manifest, body.take(cut).getBytes("UTF-8"))
    val fault = start(1L)
    assert(!fault.exists(_.contains("is not a live snapshot")),
      fault.mkString(" | "))
    assert(fault.exists(m => m.startsWith("com.fasterxml.jackson") &&
        m.contains("Unexpected end-of-input")), fault.mkString(" | "))
  }

  test("lineage eq-predicate diff: a predicate referencing a column " +
      "ADDED in-range backfills before it filters, and a row killed " +
      "by BOTH a tombstone and a predicate emits once") {
    // (a) pred over an in-range ADD COLUMN: pre-add rows read NULL
    // for the new column, exactly what a to-reader surfaces, so
    // `note IS NULL` kills every pre-add carried row
    val base = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "tag", "v")
    val t = GraftTable.createEmpty(spark,
      Files.createTempDirectory("graft_lineqadd").toString, base.schema)
    val morEq = Map(GraftTable.RowLineageProp -> "true",
      "write.delete.mode" -> "merge-on-read",
      "write.delete.style" -> "equality")
    t.setProperties(morEq)
    t.append(base.repartition(1))                            // snap 2
    val ids = t.readLineage().select("k", "_row_id")
      .as[(Long, Long)].collect().toMap
    t.setProperties(morEq + (GraftTable.RowLineageProp -> "false"))
    import org.apache.spark.sql.types.{StringType, StructField}
    t.addColumns(Seq(StructField("note", StringType)))       // snap 3
    t.deleteMoR("note IS NULL")                              // snap 4
    t.setProperties(morEq)
    assert(t.read().count() == 0,
      "the predicate must kill every pre-add row on the live read")
    val feed = t.lineageChanges(2, 4).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("_change_type"),
        r.getAs[Long]("_row_id"))).toSet
    assert(feed == Set((1L, "delete", ids(1L)), (2L, "delete", ids(2L))),
      s"the pred-diff leg must backfill the added column before " +
        s"filtering: $feed")
    // (b) double-kill dedupe: one row tombstoned AND predicate-killed
    // inside one range must net to ONE keyed delete (the rid
    // anti-join between the positional and predicate legs)
    val t2 = GraftTable.createEmpty(spark,
      Files.createTempDirectory("graft_lineqdup").toString, base.schema)
    t2.setProperties(morEq + ("write.delete.style" -> "position"))
    t2.append(base.repartition(1))                           // snap 2
    val ids2 = t2.readLineage().select("k", "_row_id")
      .as[(Long, Long)].collect().toMap
    t2.deleteMoRPos("k = 1")              // snap 3: tombstone row 1
    t2.setProperties(morEq +
      (GraftTable.RowLineageProp -> "false",
        "write.delete.style" -> "equality"))
    t2.deleteMoR("tag = 'a'")             // snap 4: pred ALSO names row 1
    t2.setProperties(morEq)
    val feed2 = t2.lineageChanges(2, 4).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("_change_type"),
        r.getAs[Long]("_row_id")))
    assert(feed2.toSet == Set((1L, "delete", ids2(1L))) &&
        feed2.length == 1,
      s"a tombstone+predicate double kill must emit exactly once: " +
        s"${feed2.toSeq}")
  }

  test("lineage changelog refuses a range whose carried files were " +
      "re-assigned ids by a rollback to a pre-lineage snapshot") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))  // snap 1
    t.append(Seq((3L, "c", 3.0)).toDF("k", "tag", "v"))      // snap 2
    t.setProperties(Map(GraftTable.RowLineageProp -> "true"))
    t.append(Seq((4L, "d", 4.0)).toDF("k", "tag", "v"))      // snap 3: ids assign
    // rollback to a PRE-enablement snapshot: the target carries no
    // first-row-ids, so the restored files get FRESH ranges — a
    // carried row reads DIFFERENT ids at the two endpoints and the
    // keyed join would mis-pair every row as a phantom delete+insert
    t.rollback(2)                                            // snap 4
    val e = intercept[IllegalArgumentException](
      t.lineageChanges(3, 4).collect())
    assert(e.getMessage.contains("disagree on the first row id"),
      s"got: ${e.getMessage}")
  }

  test("MoR UPDATE and MERGE via deletion vectors preserve row " +
      "lineage, and the changelog nets each to one keyed update") {
    val base = Seq((1L, "a", 1.0), (2L, "b", 2.0),
      (3L, "c", 3.0), (4L, "d", 4.0)).toDF("k", "tag", "v")
    val t = GraftTable.createEmpty(spark,
      Files.createTempDirectory("graft_lindvdml").toString, base.schema)
    t.setProperties(Map(GraftTable.RowLineageProp -> "true",
      "write.delete.mode" -> "merge-on-read",
      "write.update.mode" -> "merge-on-read",
      "write.merge.mode" -> "merge-on-read",
      "write.delete.style" -> "vector"))
    t.append(base.repartition(1))                              // snap 2
    val ids = t.readLineage().select("k", "_row_id")
      .as[(Long, Long)].collect().toMap
    val files = t.currentSnapshot.files
    t.updateMoRPos(Map("v" -> "v * 10"), "k <= 2")             // snap 3
    assert(files.toSet.subsetOf(t.currentSnapshot.files.toSet) &&
      t.currentSnapshot.dvs.nonEmpty,
      "the MoR update must vector the old images, not rewrite")
    val lin3 = t.readLineage()
    def row(df: org.apache.spark.sql.DataFrame, k: Long) =
      df.filter(col("k") === k).head
    assert(row(lin3, 1).getAs[Long]("_row_id") == ids(1L) &&
      row(lin3, 1).getAs[Long]("_last_updated_sequence_number") == 3L &&
      row(lin3, 1).getAs[Double]("v") == 10.0,
      "a DV update must keep the row id and bump the sequence")
    assert(row(lin3, 4).getAs[Long]("_last_updated_sequence_number") == 2L,
      "unmatched rows keep their sequence")
    // MoR MERGE via DVs: matched row keeps its id, insert mints one
    t.merge(Seq((3L, "c2", 99.0), (9L, "z", 9.0))
      .toDF("k", "tag", "v"), "k")                             // snap 4
    val lin4 = t.readLineage()
    assert(row(lin4, 3).getAs[Long]("_row_id") == ids(3L) &&
      row(lin4, 3).getAs[Long]("_last_updated_sequence_number") == 4L)
    assert(row(lin4, 9).getAs[Long]("_row_id") > ids.values.max)
    assert(lin4.select("_row_id").distinct().count() == 5)
    // the lineage changelog nets every DV update to ONE keyed row
    val feed = t.lineageChanges(2, 4).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("_change_type")))
      .sorted.toList
    assert(feed == List((1L, "update"), (2L, "update"),
      (3L, "update"), (9L, "insert")), s"got $feed")
  }

  test("plain change feed survives a null-backfilled ADD COLUMN: the " +
      "batch changelog up-projects, a checkpointed stream restart " +
      "drains through, other shapes still refuse") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.{StringType, StructField}
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_addcol_cdc").toString,
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "tag", "v")) // 1
    t.append(Seq((3L, "c", 3.0)).toDF("k", "tag", "v"))          // 2
    val ck = Files.createTempDirectory("graft_addcol_ck").toString
    val out = Files.createTempDirectory("graft_addcol_out").toString
    def drain(): Unit = {
      // a FILE sink: the one built-in sink that recovers from a
      // checkpoint, so the restart is a real offset resume
      val q = spark.readStream.format("graft-lake")
        .option("readChangeFeed", "true")
        .option("maxCommitsPerTrigger", 1).load(t.location)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def sunk() = spark.read.option("mergeSchema", "true").parquet(out)
    drain() // run A: delivers snaps 1-2 at the pre-evolution schema
    assert(sunk().count() == 3)

    t.addColumns(Seq(StructField("note", StringType)))           // 3
    t.append(Seq((4L, "d", 4.0, "n4")).toDF("k", "tag", "v", "note")) // 4
    t.delete("k = 1")                                            // 5

    // the BATCH changelog up-projects across the add: old images
    // carry NULL for the new column, exactly what a reader at `to`
    // sees for pre-add files
    val full = t.changes(0, 5).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("_change_type"),
        Option(r.getAs[String]("note")))).toSet
    assert(full == Set((2L, "insert", None), (3L, "insert", None),
      (4L, "insert", Some("n4"))), s"got $full")

    // run B: the SAME checkpoint drains THROUGH the evolution — the
    // add commit nets empty, the post-add commits deliver (this is
    // the wedge being fixed: every batch here refused before)
    drain()
    val runB = sunk().collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("_change_type"),
        Option(r.getAs[String]("note")))).toSet
    assert(runB == Set((1L, "insert", None), (2L, "insert", None),
      (3L, "insert", None), (4L, "insert", Some("n4")),
      (1L, "delete", None)), s"got $runB")

    // a FRESH stream at the post-add schema up-projects the pre-add
    // data ranges too (the pending-range half of a restart)
    val qn2 = "addcol_feed_" +
      java.util.UUID.randomUUID.toString.replace("-", "").take(12)
    val q2 = spark.readStream.format("graft-lake")
      .option("readChangeFeed", "true")
      .option("maxCommitsPerTrigger", 1).load(t.location)
      .writeStream.format("memory").queryName(qn2)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val fresh = spark.table(qn2)
    assert(fresh.count() == 5 &&
      fresh.filter(col("note").isNull).count() == 4, "pre-add rows " +
        "must deliver with a NULL-filled new column")

    // a RENAME now composes too (the rename log carries column
    // identity): the rename-only range nets empty, and a range
    // spanning it delivers under the post-rename names
    t.renameColumn("tag", "label")                               // 6
    assert(t.changes(5, 6).isEmpty,
      "a file-neutral rename commit nets an empty changelog")
    assert(t.changes(4, 6).columns.contains("label"),
      "a spanning range delivers under the post-rename name")
    // a DROP whose from-side carries the column still refuses
    t.dropColumn("note")                                         // 7
    val e = intercept[IllegalArgumentException](t.changes(5, 7).collect())
    assert(e.getMessage.contains("read the sides separately"))
  }

  test("append-mode stream survives a null-backfilled ADD COLUMN on " +
      "restart; rename still wedges with the restart refusal") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.{StringType, StructField}
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_addcol_app").toString,
      Seq((1L, "a")).toDF("k", "tag"))                           // 1
    val ck = Files.createTempDirectory("graft_addcol_app_ck").toString
    val out = Files.createTempDirectory("graft_addcol_app_out").toString
    def drain(): Unit = {
      val q = spark.readStream.format("graft-lake")
        .option("maxCommitsPerTrigger", 1).load(t.location)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    t.addColumns(Seq(StructField("note", StringType)))           // 2
    t.append(Seq((2L, "b", "n2")).toDF("k", "tag", "note"))      // 3
    t.setNotNull("tag")                                          // 4
    t.append(Seq((3L, "c", "n3")).toDF("k", "tag", "note"))      // 5
    // restart: the evolve-add and evolve-notnull batches are empty
    // (file-neutral), snaps 3 and 5 deliver
    drain()
    val rows = spark.read.option("mergeSchema", "true").parquet(out)
      .collect().map(r => (r.getAs[Long]("k"),
        Option(r.getAs[String]("note")))).toSet
    assert(rows == Set((1L, None), (2L, Some("n2")), (3L, Some("n3"))),
      s"got $rows")
    // a RENAME now drains through on restart too (the rename log
    // carries column identity; the restarted stream declares the
    // post-rename schema and the new commit delivers under it)
    t.renameColumn("tag", "label")                               // 6
    t.append(Seq((9L, "z", "n9")).toDF("k", "label", "note"))    // 7
    drain()
    val postRename = spark.read.option("mergeSchema", "true")
      .parquet(out)
    assert(postRename.count() == 4 &&
      postRename.filter(col("k") === 9L)
        .select("label").head.getString(0) == "z",
      "the restarted stream must deliver the post-rename commit")
    // round 18: a DROP no longer wedges the restart — the restarted
    // stream declares the post-drop schema, the retire log projects
    // the dropped column away for any pre-drop backlog, and the new
    // commit delivers (the backlog case is spec-pinned separately)
    t.dropColumn("note")                                         // 8
    t.append(Seq((10L, "y")).toDF("k", "label"))                 // 9
    drain()
    val postDrop = spark.read.option("mergeSchema", "true").parquet(out)
    assert(postDrop.count() == 5 &&
      postDrop.filter(col("k") === 10L)
        .select("label").head.getString(0) == "y",
      "the restarted stream must deliver past the drop")
  }

  test("metadata tables answer from the manifest: files, partitions") {
    val dir = Files.createTempDirectory("graft_meta").toString
    val t = GraftTable.create(spark, dir,
      Seq((1L, "x", 1.0), (2L, "y", 2.0), (3L, "x", 3.0))
        .toDF("k", "tag", "v"),
      partitionBy = Seq("tag"))
    t.append(Seq((4L, "x", 4.0)).toDF("k", "tag", "v"))
    val files = t.filesMetadata.collect()
    assert(files.length == t.currentSnapshot.files.size)
    assert(files.forall(!_.isNullAt(2)), "every file carries a row count")
    assert(files.map(_.getLong(2)).sum == 4)
    val parts = t.partitionsMetadata.orderBy("tag").collect()
    assert(parts.map(_.getString(0)).toSeq == Seq("x", "y"))
    assert(parts.map(_.getLong(parts.head.length - 1)).toSeq == Seq(3L, 1L))
    // row counts survive carry-forward through an unrelated delete
    t.delete("k = 4")
    assert(t.filesMetadata.collect().forall(!_.isNullAt(2)))
  }

  test("sort-ordered compaction clusters files so stats pruning bites") {
    val dir = Files.createTempDirectory("graft_sortc").toString
    // three appends, each hash-partitioned on g=k%7 so every data
    // file spans the whole k domain (arrival order ≠ key order)
    def batch(m: Long) = (m until 300L by 3)
      .map(k => (k, k % 7, s"r$k")).toDF("k", "g", "tag")
      .repartition(4, col("g"))
    val t = GraftTable.create(spark, dir, batch(0))
    t.append(batch(1))
    t.append(batch(2))
    val pred = "k >= 250"
    assert(t.pruneByStats(t.currentSnapshot, pred).size ==
      t.currentSnapshot.files.size, "interleaved files cannot prune")
    t.compact(5, sortBy = Seq("k"))
    val snap = t.currentSnapshot
    val pruned = t.pruneByStats(snap, pred)
    assert(pruned.nonEmpty && pruned.size < snap.files.size,
      s"range-clustered files must prune: ${pruned.size}/${snap.files.size}")
    // data unchanged, read correct through the pruned path
    assert(t.readWhere(pred).count() == 50)
    assert(t.read().count() == 300)
  }

  test("branches: isolated writes, fast-forward publish, guarded ff") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0))) // snap 1
    t.createBranch("dev")
    t.appendToBranch(Seq((3L, "c", 3.0)).toDF("k", "tag", "v"), "dev")
    t.appendToBranch(Seq((4L, "d", 4.0)).toDF("k", "tag", "v"), "dev")
    assert(t.read().count() == 2, "main must not see branch writes")
    assert(t.readRef("dev").count() == 4)
    assert(t.currentSnapshotId == 1)
    t.fastForward("main", "dev")
    assert(t.read().count() == 4)
    // diverge: a second branch from snapshot 1 is now BEHIND main —
    // fast-forwarding it backwards must be rejected
    t.createBranch("stale", at = 1L)
    t.appendToBranch(Seq((9L, "z", 9.0)).toDF("k", "tag", "v"), "stale")
    intercept[IllegalArgumentException](t.fastForward("main", "stale"))
    assert(t.read().count() == 4, "a rejected ff must change nothing")
    // branch appends rebase like main appends: two handles racing on dev
    val t2 = lakehouse.GraftTable.load(spark, t.location)
    t.appendToBranch(Seq((5L, "e", 5.0)).toDF("k", "tag", "v"), "dev")
    t2.appendToBranch(Seq((6L, "f", 6.0)).toDF("k", "tag", "v"), "dev")
    assert(t.readRef("dev").count() == 6, "racing branch appends all land")
  }

  test("position deletes: tombstones not rewrites, guards compose") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0))) // snap 1
    t.append(Seq((3L, "c", 3.0)).toDF("k", "tag", "v"))     // snap 2
    val before = t.currentSnapshot.files
    t.deleteMoRPos("v <= 2.0")                              // snap 3
    assert(t.currentSnapshot.files == before,
      "position delete must not rewrite any data file")
    assert(t.currentSnapshot.posDels.nonEmpty &&
      t.currentSnapshot.dels.isEmpty)
    assert(t.read().orderBy("k").as[(Long, String, Double)]
      .collect().toSeq == Seq((3L, "c", 3.0)))
    // copy-on-write DML refuses pending tombstones (its rewrite path
    // would resurrect the deleted rows)
    intercept[IllegalArgumentException](t.delete("k = 3"))
    // the changelog COMPOSES with tombstones: across (1, 3] the append
    // inserts k=3 and the position delete deletes k=1,2 — the carried
    // file is read only at its tombstoned positions
    val chg = t.changes(1, t.currentSnapshotId)
      .select("_change_type", "k").as[(String, Long)].collect().toSet
    assert(chg == Set(("insert", 3L), ("delete", 1L), ("delete", 2L)))
    // and across (2, 3] the only change is the delete pair
    assert(t.changes(2, t.currentSnapshotId)
      .select("_change_type", "k").as[(String, Long)].collect().toSet ==
      Set(("delete", 1L), ("delete", 2L)))
    // time travel to the pre-delete snapshot still sees every row
    assert(t.readAt(2).count() == 3)
    // rollback across the delete boundary restores/reapplies tombstones
    val del = t.currentSnapshotId
    t.rollback(2)
    assert(t.read().count() == 3, "rollback past the delete un-deletes")
    // the changelog reports a rollback's un-deletes as inserts (the
    // undone-tombstone leg of the diff)
    assert(t.changes(del, t.currentSnapshotId)
      .select("_change_type", "k").as[(String, Long)].collect().toSet ==
      Set(("insert", 1L), ("insert", 2L)))
    t.rollback(del)
    assert(t.read().count() == 1, "rolling forward re-applies tombstones")
    // compaction materializes and re-enables copy-on-write DML
    t.compact(2)
    assert(t.currentSnapshot.posDels.isEmpty && t.read().count() == 1)
    t.delete("k = 3")
    assert(t.read().count() == 0)
    // hive-partitioned tables: tombstones anti-join through the
    // basePath-grouped read
    val dir = Files.createTempDirectory("graft_pdp").toString
    val pt = GraftTable.create(spark, dir,
      Seq((1L, "x", 1.0), (2L, "y", 2.0), (3L, "x", 3.0))
        .toDF("k", "tag", "v"), partitionBy = Seq("tag"))
    val pf = pt.currentSnapshot.files
    pt.deleteMoRPos("k = 1")
    assert(pt.currentSnapshot.files == pf)
    assert(pt.read().orderBy("k").select("k").as[Long]
      .collect().toSeq == Seq(2L, 3L))
  }

  test("tombstone anti-join broadcasts only while the tombstone set is small") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
    t.deleteMoRPos("k = 1")
    // read from the optimized plan: a small tombstone set is broadcast
    // to a per-row probe (no join); past the byte gate nothing is
    // broadcast and the folded deletes join on the file instead, the
    // strategy left to AQE/stats (no driver-forced collect)
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution.optimizedPlan
    def broadcastProbed(df: org.apache.spark.sql.DataFrame): Boolean =
      plan(df).exists(_.expressions.exists(
        _.exists(_.isInstanceOf[graft.lakehouse.RowDeleted])))
    def joins(df: org.apache.spark.sql.DataFrame) = plan(df).collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    def broadcastHinted(df: org.apache.spark.sql.DataFrame): Boolean =
      joins(df).exists(_.hint.rightHint.exists(_.strategy.contains(
        org.apache.spark.sql.catalyst.plans.logical.BROADCAST)))
    assert(broadcastProbed(t.read()) && joins(t.read()).isEmpty,
      "a KB-scale tombstone set must be broadcast to the row probe")
    val saved = sys.props.get("graft.posdel.broadcast.bytes")
    try {
      sys.props("graft.posdel.broadcast.bytes") = "0"
      val df = t.read()
      assert(!broadcastProbed(df) && joins(df).nonEmpty && !broadcastHinted(df),
        "an oversized tombstone set must not be forced through a broadcast")
      assert(df.orderBy("k").select("k").as[Long].collect().toSeq ==
        Seq(2L, 3L), "the shuffle path must produce the same live view")
    } finally saved match {
      case Some(v) => sys.props("graft.posdel.broadcast.bytes") = v
      case None    => sys.props.remove("graft.posdel.broadcast.bytes")
    }
  }

  test("position deletes survive a table root with an encodable char") {
    // _metadata.file_path is URL-ENCODED while manifest paths are
    // raw: a root with a space exposes every raw-vs-encoded path
    // comparison (regression: rewritePositionDeletes dropped ALL live
    // tombstones as dangling, resurrecting the deleted rows; the
    // changelog missed the MoR delete entirely)
    val base = Files.createTempDirectory("graft enc")
    val t = GraftTable.create(spark, base.toString + "/t dir",
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
        .toDF("k", "tag", "v"))
    t.deleteMoRPos("k = 2")
    assert(t.read().orderBy("k").select("k").as[Long].collect().toSeq ==
      Seq(1L, 3L))
    val pre = t.currentSnapshotId
    t.rewritePositionDeletes()
    assert(t.currentSnapshot.posDels.nonEmpty,
      "the live tombstone must survive the rewrite (not be dropped " +
        "as dangling through the raw-vs-encoded mismatch)")
    assert(t.read().orderBy("k").select("k").as[Long].collect().toSeq ==
      Seq(1L, 3L), "deleted rows must stay deleted after maintenance")
    // the changelog sees the MoR delete on the carried file
    val chg = t.changes(1, pre)
    assert(chg.filter(col("_change_type") === "delete").count() == 1,
      "the change feed must surface the MoR delete under an " +
        "encodable path")
  }

  test("expireSnapshots reclaims tombstone files of expired snapshots") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
    t.deleteMoRPos("k = 1")
    t.deleteMoRPos("k = 2")
    val preRewriteTombs = t.currentSnapshot.posDels
    t.rewritePositionDeletes() // supersedes both per-statement files
    val mergedTombs = t.currentSnapshot.posDels
    t.expireSnapshots(1)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    preRewriteTombs.foreach { p =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(p)),
        s"expired per-statement tombstone file must be deleted: $p")
    }
    mergedTombs.foreach { p =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(p)),
        "the surviving snapshot's tombstones must remain")
    }
    assert(t.read().orderBy("k").select("k").as[Long].collect().toSeq ==
      Seq(3L))
  }

  test("CTAS composes with the table_changes TVF") {
    val loc = Files.createTempDirectory("graft_ctastvf").toString
    val src = GraftTable.create(spark, loc + "/src",
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "tag", "v"))
    graft.lakehouse.LakeRegistry.register("ctas_tvf_src", src)
    src.append(Seq((3L, "c", 3.0)).toDF("k", "tag", "v"))
    spark.sql(
      s"""CREATE TABLE ctas_tvf_snap USING graft
         |LOCATION '$loc/snap'
         |AS SELECT k, _change_type FROM
         |  table_changes('ctas_tvf_src', 1, 2)""".stripMargin)
    val got = spark.sql("SELECT k, _change_type FROM ctas_tvf_snap")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((3L, "insert")),
      "the lowered CTAS must resolve the TVF in its query subtree")
  }

  test("rewritePositionDeletes merges tombstone files; history survives") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0),
      (4L, "d", 4.0)))
    t.deleteMoRPos("k = 1")
    t.deleteMoRPos("k = 3")
    val preRewrite = t.currentSnapshotId
    assert(t.currentSnapshot.posDels.size >= 2,
      "each MoR statement leaves its own tombstone files")
    val dataFiles = t.currentSnapshot.files
    t.rewritePositionDeletes()
    assert(t.currentSnapshot.files == dataFiles,
      "tombstone maintenance must not touch data files")
    assert(t.currentSnapshot.posDels.size == 1,
      "KB-scale tombstones must merge to a single file")
    assert(t.read().orderBy("k").select("k").as[Long].collect().toSeq ==
      Seq(2L, 4L), "the live view must be unchanged by the rewrite")
    // time travel to the pre-rewrite snapshot reads the old tombstones
    assert(t.readAt(preRewrite).count() == 2)
    // changelog across the rewrite is empty: same live rows, and the
    // tombstone diff nets to nothing position-wise
    assert(t.changes(preRewrite, t.currentSnapshotId).count() == 0)
    // the change feed's header-cheap skip: maintenance-only ranges are
    // provably net-empty, DML ranges are not
    assert(t.rewriteOnlyRange(preRewrite, t.currentSnapshotId),
      "a rewrite-pdel-only range must be skippable without a read")
    assert(!t.rewriteOnlyRange(1, 2),
      "a range containing DML must pay the real diff")
    // a tombstone-free table (compaction materialized) no-ops
    t.compact(1)
    val head = t.currentSnapshotId
    assert(t.rewritePositionDeletes() == head && t.currentSnapshotId == head)
  }

  test("refs CAS rejects a stale publisher instead of dropping a commit") {
    // Simulate the CROSS-PROCESS interleave (in-process writers
    // serialize on the commit lock, so the race is driven through the
    // CAS seam): two writers read the same refs version, both try to
    // advance branch 'dev'. Pre-round-6 the second rewrite silently
    // REPLACED the first — a lost commit; now the loser must get
    // CommitConflictException and the winner's head must survive.
    val t = freshTable(Seq((1L, "a", 1.0))) // snap 1
    t.append(Seq((2L, "b", 2.0)).toDF("k", "tag", "v")) // snap 2
    t.createBranch("dev", at = 1L)
    val staleVersion = t.refsVersionForTest
    val staleRefs = t.refs
    // writer 1 wins the CAS
    t.casRefsForTest(staleRefs + ("dev" -> ("branch", 2L)), staleVersion)
    // writer 2, publishing from the SAME stale version, must conflict
    val ex = intercept[lakehouse.CommitConflictException] {
      t.casRefsForTest(staleRefs + ("dev" -> ("branch", 1L)), staleVersion)
    }
    assert(ex.getMessage.contains("refs version"))
    assert(t.headOf("dev") == 2L, "winner's head must survive the race")
    // every mutation published an immutable version — the lineage is
    // auditable, nothing was rewritten in place
    assert(t.refsVersionForTest == staleVersion + 1)
    // and the ordinary single-writer path still works end to end
    t.appendToBranch(Seq((3L, "c", 3.0)).toDF("k", "tag", "v"), "dev")
    assert(t.readRef("dev").count() == 3)
  }

  test("tags are immutable bookmarks and survive snapshot expiry") {
    val t = freshTable(Seq((1L, "a", 1.0))) // snap 1
    t.createTag("v1")
    intercept[IllegalArgumentException](
      t.appendToBranch(Seq((2L, "b", 2.0)).toDF("k", "tag", "v"), "v1"))
    t.append(Seq((2L, "b", 2.0)).toDF("k", "tag", "v"))
    t.append(Seq((3L, "c", 3.0)).toDF("k", "tag", "v"))
    t.expireSnapshots(keepLast = 1)
    // the tagged snapshot and its files must have been protected
    assert(t.readRef("v1").count() == 1)
    assert(t.read().count() == 3)
    t.dropRef("v1")
    intercept[IllegalArgumentException](t.readRef("v1"))
  }

  test("table_changes TVF composes in SQL and validates its arguments") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0))) // snap 1
    t.append(Seq((3L, "c", 3.0)).toDF("k", "tag", "v"))     // snap 2
    t.delete("k = 1")                                       // snap 3
    lakehouse.LakeRegistry.register("tvf_t", t)
    try {
      // composes under projection + filter like any relation
      val rows = spark.sql(
        "SELECT k, _change_type FROM table_changes('tvf_t', 1, 3) " +
          "WHERE _change_type = 'insert' ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(rows.toSeq == Seq((3L, "insert")))
      val del = spark.sql(
        "SELECT count(*) FROM table_changes('tvf_t', 1, 3) " +
          "WHERE _change_type = 'delete'").head().getLong(0)
      assert(del == 1L)
      // non-literal / wrong-arity args fail loudly
      intercept[UnsupportedOperationException](
        spark.sql("SELECT * FROM table_changes('tvf_t', 1)"))
      intercept[UnsupportedOperationException](
        spark.sql("SELECT * FROM table_changes('tvf_t', 1 + 1, 3)"))
      // unregistered names fail with a clear error
      intercept[IllegalArgumentException](
        spark.sql("SELECT * FROM table_changes('no_such_table', 1, 2)"))
    } finally lakehouse.LakeRegistry.unregister("tvf_t")
  }

  test("hidden partitioning: transforms derive dirs, raw predicates prune") {
    val dir = Files.createTempDirectory("graft_hp").toString
    val rows = (0L until 120L).map { i =>
      (i, java.sql.Timestamp.valueOf(
        f"${2020 + (i % 3)}%d-${1 + (i % 12)}%02d-15 00:00:00"), s"u${i % 10}")
    }.toDF("k", "ts", "user")
    val t = GraftTable.create(spark, dir, rows,
      partitionBy = Seq("month(ts)", "bucket[4](k)"))
    // raw columns all present in the data files; read round-trips
    assert(t.read().columns.toSeq == Seq("k", "ts", "user"))
    assert(t.read().count() == 120)
    // month pruning from a raw timestamp predicate
    val snap = t.currentSnapshot
    val p = t.prunePartitions(snap, "ts >= TIMESTAMP '2022-06-01 00:00:00'")
    assert(p.nonEmpty && p.size < snap.files.size)
    assert(t.readWhere("ts >= TIMESTAMP '2022-06-01 00:00:00'").count() ==
      rows.filter(col("ts") >= lit("2022-06-01")).count())
    // bucket pruning from a raw key equality, lossless (INT literal
    // must hash like the LONG column — the type-normalization trap)
    val b = t.prunePartitions(snap, "k = 17")
    assert(b.size < snap.files.size)
    assert(t.readWhere("k = 17").count() == 1)
    // DML + compaction keep the spec: delete one user, re-cluster
    t.delete("user = 'u3'")
    assert(t.read().count() == 108)
    t.compact(4)
    assert(t.read().count() == 108)
    assert(t.currentSnapshot.partitionCols ==
      Seq("month(ts)", "bucket[4](k)"))
    // partition metadata surfaces the derived values by display name
    val pm = t.partitionsMetadata
    assert(pm.columns.toSeq ==
      Seq("month_ts", "bucket4_k", "file_count", "row_count"))
    assert(pm.agg(sum("row_count")).head.getLong(0) == 108)
  }

  test("SQL DDL accepts transform PARTITIONED BY (hidden partitioning)") {
    val loc = Files.createTempDirectory("graft_hpddl").toString
    graft.lakehouse.LakeRegistry.unregister("hp_ddl_t")
    spark.sql(
      s"""CREATE TABLE hp_ddl_t (k BIGINT, ts TIMESTAMP, v DOUBLE)
         |USING graft PARTITIONED BY (months(ts), bucket(4, k))
         |LOCATION '$loc'""".stripMargin)
    spark.sql(
      """INSERT INTO hp_ddl_t VALUES
        |(1, TIMESTAMP '2021-03-05 00:00:00', 1.5),
        |(2, TIMESTAMP '2021-04-05 00:00:00', 2.5)""".stripMargin)
    val t = graft.lakehouse.LakeRegistry.get("hp_ddl_t").get
    assert(t.currentSnapshot.partitionCols ==
      Seq("month(ts)", "bucket[4](k)"))
    assert(spark.sql("SELECT * FROM hp_ddl_t").count() == 2)
    val pruned = t.prunePartitions(t.currentSnapshot,
      "ts >= TIMESTAMP '2021-04-01 00:00:00'")
    assert(pruned.size < t.currentSnapshot.files.size)
  }

  test("rename column: old files alias through, history keeps old name") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    t.renameColumn("v", "score")
    assert(t.read().columns.toSeq == Seq("k", "tag", "score"))
    assert(t.read().orderBy("k").select("score").as[Double].collect()
      .toSeq == Seq(1.0, 2.0))
    // new epoch writes under the new name; both epochs scan together
    t.append(Seq((3L, "c", 3.0)).toDF("k", "tag", "score"))
    assert(t.read().count() == 3)
    // DML through the new name rewrites old-epoch files correctly
    t.update(Map("score" -> "score * 10"), "k = 1")
    assert(t.read().orderBy("k").select("score").as[Double].collect()
      .toSeq == Seq(10.0, 2.0, 3.0))
    // time travel shows the old snapshot under its old schema
    assert(t.readAt(1).columns.toSeq == Seq("k", "tag", "v"))
    // stats-pruned read stays correct across epochs (old files' stats
    // are keyed by the physical name → conservative keep)
    assert(t.readWhere("score >= 3.0").count() == 2)
  }

  test("drop column: metadata-only, name retired until a rewrite") {
    import org.apache.spark.sql.types.{StringType, StructField}
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    val files = t.currentSnapshot.files
    t.dropColumn("tag")
    assert(t.currentSnapshot.files == files, "drop must not rewrite data")
    assert(t.read().columns.toSeq == Seq("k", "v"))
    // re-adding the name would resurrect old bytes — refused
    val e = intercept[IllegalArgumentException](
      t.addColumns(Seq(StructField("tag", StringType))))
    assert(e.getMessage.contains("renamed or dropped"))
    // a full rewrite clears the retirement; the new column reads NULL
    t.compact(1)
    t.addColumns(Seq(StructField("tag", StringType)))
    assert(t.read().filter(col("tag").isNotNull).count() == 0)
    // guards: partition sources and last column are protected
    intercept[IllegalArgumentException](t.dropColumn("nope"))
  }

  test("SQL ALTER TABLE evolves a registered table, FGAC-gated") {
    val t = freshTable(Seq((1L, "a", 1.0)))
    graft.lakehouse.LakeRegistry.register("alter_sql_t", t)
    spark.sql("ALTER TABLE alter_sql_t ADD COLUMNS (note STRING)")
    spark.sql("ALTER TABLE alter_sql_t RENAME COLUMN tag TO label")
    spark.sql("ALTER TABLE alter_sql_t DROP COLUMN v")
    assert(spark.sql("SELECT * FROM alter_sql_t").columns.toSeq ==
      Seq("k", "label", "note"))
    assert(spark.sql("SELECT label FROM alter_sql_t").head.getString(0) == "a")
  }

  test("changelog nets rewrite survivors: update = one delete + one insert") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
    t.update(Map("v" -> "99.0"), "k = 2")
    val cdc = t.changes(1, t.currentSnapshotId)
    val rows = cdc
      .select("_change_type", "k", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    // rows 1 and 3 rode along the copy-on-write rewrite and must
    // cancel; only row 2's old and new images surface
    assert(rows == Set(("delete", 2L, 2.0), ("insert", 2L, 99.0)))
    // plan proof: files carried unchanged across the range are NEVER
    // scanned — the changelog reads the file DIFF only
    def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    val carried = t.snapshot(1).files.map(norm).toSet
      .intersect(t.snapshot(t.currentSnapshotId).files.map(norm).toSet)
    assert(carried.nonEmpty, "update must carry at least one file")
    val scanned = cdc.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.inputFiles.map(norm).toSeq
          case _ => Seq.empty[String]
        }
    }.flatten.toSet
    assert(scanned.nonEmpty && scanned.intersect(carried).isEmpty,
      s"changelog scanned carried files: ${scanned.intersect(carried)}")
    // a null-backfilled ADD COLUMN across the range UP-PROJECTS
    // (round 16): the same net changelog, old images NULL-filled
    t.addColumns(Seq(org.apache.spark.sql.types.StructField(
      "note", org.apache.spark.sql.types.StringType)))
    val across = t.changes(1, t.currentSnapshotId).collect()
    assert(across.length == 2 &&
      across.forall(_.getAs[String]("note") == null))
    // a RENAME across the range now aligns through the rename log
    // (round 17) — same net changelog under the post-rename name
    t.renameColumn("tag", "label")
    val renamedAcross = t.changes(1, t.currentSnapshotId)
    assert(renamedAcross.columns.contains("label") &&
      renamedAcross.count() == 2)
    // a DROP whose from-side carries the column is refused, not
    // misreported
    t.dropColumn("note")
    intercept[IllegalArgumentException](
      t.changes(t.currentSnapshotId - 2, t.currentSnapshotId).collect())
  }

  test("temporal pruning renders TIMESTAMP literals in the session zone") {
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Australia/Sydney")
    try {
      val df = Seq(
        (1L, java.sql.Timestamp.from(
          java.time.Instant.parse("2024-03-01T20:00:00Z"))),
        (2L, java.sql.Timestamp.from(
          java.time.Instant.parse("2024-03-02T20:00:00Z"))))
        .toDF("k", "ts")
      val t = GraftTable.create(spark,
        Files.createTempDirectory("graft_tz").toString, df, Seq("day(ts)"))
      // Sydney (UTC+11) puts both instants on the NEXT calendar day
      // vs UTC, so write-time dirs are 03-02/03-03. A UTC-rendered
      // literal would map to the nonexistent 03-01 dir, prune away
      // every candidate file, and the DELETE would silently no-op.
      t.delete("ts = TIMESTAMP'2024-03-02 07:00:00'") // = 03-01T20:00Z
      assert(t.read().select("k").as[Long].collect().toSeq == Seq(2L),
        "session-zone literal placement must reach the matching row")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("timestamp travel walks cached headers, not one manifest per step") {
    val t = freshTable(Seq((1L, "a", 1.0)))
    for (i <- 2L to 6L) {
      Thread.sleep(3)
      t.append(Seq((i, "x", i.toDouble)).toDF("k", "tag", "v"))
    }
    val cutoff = t.snapshot(3).ts // walk must descend 6 -> 3
    val first = t.readAsOfTimestamp(cutoff).count()
    val warm = GraftTable.manifestReads.get()
    val second = t.readAsOfTimestamp(cutoff).count()
    val opens = GraftTable.manifestReads.get() - warm
    assert(first == second && second == 3)
    // warm cache: the whole ancestry walk costs ZERO manifest opens;
    // only the chosen snapshot's full parse (readAt) remains
    assert(opens <= 1, s"expected <=1 manifest open on a warm walk, got $opens")
  }

  test("TIMESTAMP AS OF reads the latest snapshot at or before the instant") {
    val t = freshTable(Seq((1L, "a", 1.0))) // snap 1
    Thread.sleep(5)
    t.append(Seq((2L, "b", 2.0)).toDF("k", "tag", "v")) // snap 2
    val cutoff = t.snapshot(2).ts - 1
    assert(t.readAsOfTimestamp(cutoff).count() == 1)
    assert(t.readAsOfTimestamp(System.currentTimeMillis()).count() == 2)
    intercept[IllegalArgumentException](
      t.readAsOfTimestamp(t.snapshot(1).ts - 10000))
    // SQL surface: a timestamp literal in the (UTC) session zone
    graft.lakehouse.LakeRegistry.register("ts_ttl_t", t)
    val lit1 = java.time.Instant.ofEpochMilli(cutoff)
      .atZone(java.time.ZoneId.of(
        spark.sessionState.conf.sessionLocalTimeZone))
      .toLocalDateTime.toString.replace('T', ' ')
    assert(spark.sql(
      s"SELECT * FROM ts_ttl_t TIMESTAMP AS OF '$lit1'").count() == 1)
    assert(spark.sql(
      s"SELECT * FROM ts_ttl_t TIMESTAMP AS OF TIMESTAMP '$lit1'")
      .count() == 1)
  }

  test("SQL VERSION AS OF accepts branch and tag names") {
    val t = freshTable(Seq((1L, "a", 1.0)))
    graft.lakehouse.LakeRegistry.register("ref_ttl_t", t)
    t.createTag("first")
    t.createBranch("dev")
    t.appendToBranch(Seq((2L, "b", 2.0)).toDF("k", "tag", "v"), "dev")
    assert(spark.sql("SELECT * FROM ref_ttl_t VERSION AS OF 'dev'")
      .count() == 2)
    assert(spark.sql("SELECT * FROM ref_ttl_t VERSION AS OF 'first'")
      .count() == 1)
    assert(spark.sql("SELECT * FROM ref_ttl_t").count() == 1)
  }

  test("DML discovery scans only stats-candidate files") {
    // range-clustered table: a DELETE on the tail must carry the
    // head files forward by reference (they were never candidates)
    val dir = Files.createTempDirectory("graft_dmlprune").toString
    val t = GraftTable.create(spark, dir,
      (0L until 300L).map(k => (k, s"r$k")).toDF("k", "tag"))
    t.compact(6, sortBy = Seq("k"))
    val before = t.currentSnapshot.files.toSet
    val candidates = before.size
    t.delete("k >= 280")
    val after = t.currentSnapshot.files.toSet
    assert((before intersect after).size >= candidates - 2,
      "non-candidate files must survive by reference")
    assert(t.read().count() == 280)
    // an UPDATE whose predicate misses every file's range is a no-op
    // commit that rewrites nothing
    val files2 = t.currentSnapshot.files.toSet
    t.update(Map("tag" -> "'x'"), "k >= 5000")
    assert(t.currentSnapshot.files.toSet == files2)
  }

  test("z-order compaction prunes on both dimensions; VACUUM via SQL") {
    val dir = Files.createTempDirectory("graft_zo").toString
    // x and y uncorrelated: no single sort order can serve both
    def batch(m: Long) = (m until 400L by 2)
      .map(k => (k, (k * 7919) % 400, s"r$k")).toDF("x", "y", "tag")
      .repartition(4, col("tag"))
    val t = GraftTable.create(spark, dir, batch(0))
    t.append(batch(1))
    graft.lakehouse.LakeRegistry.register("zo_spec_t", t)
    val s0 = t.currentSnapshot
    assert(t.pruneByStats(s0, "x >= 350").size == s0.files.size)
    assert(t.pruneByStats(s0, "y >= 350").size == s0.files.size)
    spark.sql("OPTIMIZE zo_spec_t FILES 16 ZORDER BY (x, y)")
    val s1 = t.currentSnapshot
    assert(s1.files.size <= 16)
    val px = t.pruneByStats(s1, "x >= 350")
    val py = t.pruneByStats(s1, "y >= 350")
    assert(px.size < s1.files.size && py.size < s1.files.size,
      s"both dims must prune: x ${px.size}, y ${py.size} of ${s1.files.size}")
    // data intact through the rewrite, reads correct through pruning
    assert(t.read().count() == 400)
    assert(t.readWhere("x >= 350 AND y >= 350").count() ==
      (0L until 400L).count(k => k >= 350 && (k * 7919) % 400 >= 350))
    // VACUUM expires history down to the current snapshot
    spark.sql("VACUUM zo_spec_t RETAIN 1 SNAPSHOTS")
    assert(t.snapshots.map(_.id) == Seq(3L))
  }

  test("partition spec evolution: per-file specs, DML across epochs") {
    val dir = Files.createTempDirectory("graft_pe").toString
    val t = GraftTable.create(spark, dir,
      (0L until 100L).map(k => (k, k % 10, s"r$k")).toDF("k", "g", "tag"))
    t.updatePartitionSpec(Seq("bucket[4](g)"))
    t.append((100L until 200L).map(k => (k, k % 10, s"r$k"))
      .toDF("k", "g", "tag"))
    assert(t.read().count() == 200)
    // equality on g prunes only post-evolution files
    val snap = t.currentSnapshot
    val pruned = t.prunePartitions(snap, "g = 3")
    assert(pruned.size < snap.files.size)
    assert(t.readWhere("g = 3").count() == 20)
    // DML crosses both epochs; rewritten files land under the new spec
    t.delete("g = 7")
    assert(t.read().count() == 180)
    // hive-identity tables refuse evolution (files lack the column)
    val t2 = GraftTable.create(spark,
      Files.createTempDirectory("graft_pe2").toString,
      Seq((1L, "x", 1.0)).toDF("k", "tag", "v"), partitionBy = Seq("tag"))
    intercept[IllegalArgumentException](
      t2.updatePartitionSpec(Seq("bucket[4](k)")))
    // evolution back to unpartitioned is legal and reads stay whole
    t.updatePartitionSpec(Nil)
    t.append((200L until 210L).map(k => (k, k % 10, s"r$k"))
      .toDF("k", "g", "tag"))
    assert(t.read().count() == 190)
  }

  test("stats pruning handles IN, IS NULL, IS NOT NULL conjuncts") {
    val dir = Files.createTempDirectory("graft_instats").toString
    // file 1: k 0..99, tag non-null; file 2: k 100..199, tag all NULL
    val t = GraftTable.create(spark, dir,
      (0L until 100L).map(k => (k, s"t$k")).toDF("k", "tag"))
    t.append(spark.range(100, 200).toDF("k")
      .withColumn("tag", lit(null).cast("string")))
    val snap = t.currentSnapshot
    val total = snap.files.size
    // IN entirely inside file 2's range skips file 1
    val in = t.pruneByStats(snap, "k IN (150, 160, 170)")
    assert(in.size < total && in.nonEmpty)
    assert(t.readWhere("k IN (150, 160, 170)").count() == 3)
    // IS NULL skips the no-null file; IS NOT NULL skips the all-null file
    val isNull = t.pruneByStats(snap, "tag IS NULL")
    val notNull = t.pruneByStats(snap, "tag IS NOT NULL")
    assert(isNull.size < total && notNull.size < total)
    assert(t.readWhere("tag IS NULL").count() == 100)
    assert(t.readWhere("tag IS NOT NULL").count() == 100)
    // IN prunes bucket partitions too (hidden partitioning)
    val dir2 = Files.createTempDirectory("graft_inpart").toString
    val t2 = GraftTable.create(spark, dir2,
      (0L until 200L).map(k => (k, s"r$k")).toDF("k", "tag"),
      partitionBy = Seq("bucket[8](k)"))
    val p = t2.prunePartitions(t2.currentSnapshot, "k IN (5, 6)")
    assert(p.size < t2.currentSnapshot.files.size)
    assert(t2.readWhere("k IN (5, 6)").count() == 2)
  }

  test("identity partition pruning is type-aware: ints, dates, coercions") {
    // INT identity partitions 0..11: a lexicographic compare would
    // prune dir "10" against ">= 2" and silently drop rows
    val dir = Files.createTempDirectory("graft_idint").toString
    val t = GraftTable.create(spark, dir,
      (0L until 120L).map(k => (k, (k % 12).toInt)).toDF("k", "g"),
      partitionBy = Seq("g"))
    assert(t.readWhere("g >= 2").count() == 100)
    val p = t.prunePartitions(t.currentSnapshot, "g >= 2")
    assert(p.size < t.currentSnapshot.files.size, "dirs 0,1 must prune")
    assert(t.readWhere("g IN (10, 11)").count() == 20)
    // DATE identity partitions: the literal arrives as days-since-
    // epoch and must render back to the ISO dir value
    val dir2 = Files.createTempDirectory("graft_iddate").toString
    val t2 = GraftTable.create(spark, dir2,
      (0 until 30).map(i => (i.toLong, java.sql.Date.valueOf(
        f"2021-01-${1 + i % 3}%02d"))).toDF("k", "d"),
      partitionBy = Seq("d"))
    assert(t2.readWhere("d = DATE '2021-01-02'").count() == 10)
    val p2 = t2.prunePartitions(t2.currentSnapshot, "d = DATE '2021-01-02'")
    assert(p2.size < t2.currentSnapshot.files.size)
    assert(t2.readWhere("d >= DATE '2021-01-02'").count() == 20)
    // a string literal against an INT identity partition refuses to
    // prune (Spark coerces the comparison; renderings may not match)
    assert(t.prunePartitions(t.currentSnapshot, "g = '3'").size ==
      t.currentSnapshot.files.size)
    assert(t.readWhere("g = '3'").count() == 10)
  }

  test("bucket pruning refuses literals outside the column's type family") {
    val dir = Files.createTempDirectory("graft_bcoerce").toString
    val t = GraftTable.create(spark, dir,
      (0L until 100L).map(k => (k, s"r$k")).toDF("k", "tag"),
      partitionBy = Seq("bucket[8](k)"))
    val snap = t.currentSnapshot
    // string literal vs BIGINT column: hashing "5" would pick the
    // wrong bucket — must keep everything instead
    assert(t.prunePartitions(snap, "k = '5'").size == snap.files.size)
    assert(t.readWhere("k = '5'").count() == 1)
    // typed literal still prunes
    assert(t.prunePartitions(snap, "k = 5").size < snap.files.size)
    assert(t.readWhere("k = 5").count() == 1)
  }

  test("DML matches files whose paths need URL encoding") {
    // input_file_name() returns the URL-encoded path; the manifest
    // stores the raw one — without decoding, affected-file discovery
    // matched nothing and DML silently committed a no-change snapshot
    val dir = Files.createTempDirectory("graft enc spec").toString // space!
    val t = GraftTable.create(spark, dir,
      Seq((1L, "NOT=SPECIFIED", 1.0), (2L, "plain", 2.0), (3L, "a b#c", 3.0))
        .toDF("k", "tag", "v"), partitionBy = Seq("tag"))
    t.delete("tag = 'NOT=SPECIFIED'")
    assert(t.read().count() == 2, "delete must hit the escaped partition")
    t.update(Map("v" -> "v * 10"), "k = 3")
    assert(t.read().filter(col("k") === 3)
      .select("v").as[Double].head() == 30.0)
    t.merge(Seq((2L, "plain", 22.0)).toDF("k", "tag", "v"), "k")
    assert(t.read().filter(col("k") === 2)
      .select("v").as[Double].head() == 22.0)
  }

  test("retired column names cannot come back through any evolution door") {
    import org.apache.spark.sql.types.{StringType, StructField}
    val t = freshTable(Seq((1L, "a", 1.0)))
    t.renameColumn("v", "score")
    // renaming another column INTO the retired name is refused
    intercept[IllegalArgumentException](t.renameColumn("tag", "v"))
    // appendEvolved goes through the same guards as addColumns
    intercept[IllegalArgumentException](
      t.appendEvolved(Seq((2L, "b", 2.0, "ghost"))
        .toDF("k", "tag", "score", "v")))
    // a case-duplicate column cannot sneak in: 'TAG' resolves to the
    // existing 'tag' (not a new field) and the write then fails
    // loudly on the case-mismatched frame instead of committing
    val before = t.read().columns.toSeq
    intercept[Exception](
      t.appendEvolved(Seq((2L, "b", 2.0)).toDF("k", "TAG", "score")))
    assert(t.read().columns.toSeq == before)
    // invalid ref names cannot corrupt the line-oriented refs file
    intercept[IllegalArgumentException](t.createBranch("bad\tname"))
  }

  test("binpack on a partitioned table keeps outputs partition-" +
      "clustered: at most one packed file per partition value") {
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_bpp").toString,
      (1L to 200L).map(k => (k, s"g${k % 4}", k * 1.0))
        .toDF("k", "part", "v"),
      partitionBy = Seq("part"))
    // four more tiny appends, each spanning ALL partitions — the
    // round-robin bug would respray these across every output task
    (1 to 4).foreach(i => t.append(
      (1L to 8L).map(k => (1000L * i + k, s"g${k % 4}", 0.0))
        .toDF("k", "part", "v")))
    val snap0 = t.currentSnapshot
    val thr = snap0.files.flatMap(snap0.fileSizes.get).max + 1
    t.compactSmall(thr)
    val snap1 = t.currentSnapshot
    assert(snap1.op == "binpack")
    def partOf(f: String): String =
      f.split('/').find(_.startsWith("part=")).getOrElse("?")
    val perPart = snap1.files.groupBy(partOf).view.mapValues(_.size)
    assert(perPart.values.forall(_ == 1),
      s"each partition must pack to ONE file, got $perPart")
    assert(t.read().count() == 200 + 4 * 8)
    assert(t.read().agg(sum(col("v"))).head.getDouble(0) ==
      (1L to 200L).map(_ * 1.0).sum)
  }

  test("SPJ generalization: string bucket keys join shuffle-free " +
      "under AQE and match the naive join") {
    import graft.lakehouse.Spj
    val orders = graft.Tables.orders(spark, sf)
      .select(col("o_orderkey"),
        col("o_custkey").cast("string").as("o_cust_id"))
    val cust = graft.Tables.customer(spark, sf)
      .select(col("c_custkey").cast("string").as("c_cust_id"),
        col("c_name"))
    val t1 = GraftTable.create(spark,
      Files.createTempDirectory("graft_spjs1").toString, orders,
      partitionBy = Seq("bucket[4](o_cust_id)"))
    val t2 = GraftTable.create(spark,
      Files.createTempDirectory("graft_spjs2").toString, cust,
      partitionBy = Seq("bucket[4](c_cust_id)"))
    val a = Spj.read(spark, "spjs_orders", t1)
    val b = Spj.read(spark, "spjs_cust", t2)
    val oldBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
        "the zero-Exchange proof must run under the production AQE conf")
      val j = a.join(b, col("o_cust_id") === col("c_cust_id"))
      val n = j.count() // execute so AQE finalizes its plan
      assert(Spj.shuffles(j).isEmpty,
        s"string-keyed lake bucketed join must be shuffle-free:\n" +
          j.queryExecution.executedPlan)
      val naive = orders.join(cust, col("o_cust_id") === col("c_cust_id"))
      assert(n == naive.count() && n > 0)
      assert(j.except(naive).count() == 0 && naive.except(j).count() == 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBc)
    }
  }

  test("SPJ composite spec month+bucket: full-key and subset-key " +
      "joins plan shuffle-free; day spec aligns; unsupported refuses") {
    import graft.lakehouse.Spj
    val orders = graft.Tables.orders(spark, sf)
    val even = orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val odd = orders.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey").as("r_orderkey"),
        col("o_custkey").as("r_custkey"),
        col("o_orderdate").as("r_orderdate"))
    val t1 = GraftTable.create(spark,
      Files.createTempDirectory("graft_spjc1").toString, even,
      partitionBy = Seq("month(o_orderdate)", "bucket[4](o_custkey)"))
    val t2 = GraftTable.create(spark,
      Files.createTempDirectory("graft_spjc2").toString, odd,
      partitionBy = Seq("month(r_orderdate)", "bucket[4](r_custkey)"))
    val a = Spj.read(spark, "spjc_even", t1)
    val b = Spj.read(spark, "spjc_odd", t2)
    val oldBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // full-key join: keys cover both partition sources
      val jf = a.join(b, col("o_orderdate") === col("r_orderdate") &&
        col("o_custkey") === col("r_custkey"))
      val nf = jf.count()
      assert(Spj.shuffles(jf).isEmpty,
        s"composite full-key join must be shuffle-free:\n" +
          jf.queryExecution.executedPlan)
      val naiveF = even.join(odd,
        col("o_orderdate") === col("r_orderdate") &&
          col("o_custkey") === col("r_custkey"))
      assert(nf == naiveF.count() && nf > 0)
      // subset-key join: keys cover only the bucket source; the month
      // field still serves pruning (allowJoinKeysSubsetOfPartitionKeys)
      val js = a.filter(col("o_orderdate") >=
          lit("1995-01-01").cast("timestamp"))
        .join(b, col("o_custkey") === col("r_custkey"))
      val ns = js.count()
      assert(Spj.shuffles(js).isEmpty,
        s"subset-key join must be shuffle-free:\n" +
          js.queryExecution.executedPlan)
      val naiveS = even.filter(col("o_orderdate") >=
          lit("1995-01-01").cast("timestamp"))
        .join(odd, col("o_custkey") === col("r_custkey"))
      assert(ns == naiveS.count() && ns > 0)
      // the month filter prunes partitions on the manifest: fewer
      // scan splits (one per surviving month×bucket tuple) than the
      // unfiltered scan plans
      val pruned = a.filter(col("o_orderdate") >=
        lit("1997-01-01").cast("timestamp"))
      assert(pruned.rdd.getNumPartitions < a.rdd.getNumPartitions,
        "time predicate must prune month partitions on the SPJ scan")
      assert(pruned.count() == even.filter(col("o_orderdate") >=
        lit("1997-01-01").cast("timestamp")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBc)
    }
    // day-granularity spec on a small synthetic set aligns too
    val l = (1L to 40L).map(k => (k, k % 5,
      java.sql.Timestamp.valueOf(s"2024-01-0${k % 4 + 1} 10:00:00")))
      .toDF("k", "g", "ts")
    val r = (1L to 40L).map(k => (k, k % 5,
      java.sql.Timestamp.valueOf(s"2024-01-0${k % 4 + 1} 23:00:00")))
      .toDF("rk", "rg", "rts")
    val td1 = GraftTable.create(spark,
      Files.createTempDirectory("graft_spjd1").toString, l,
      partitionBy = Seq("day(ts)", "bucket[2](g)"))
    val td2 = GraftTable.create(spark,
      Files.createTempDirectory("graft_spjd2").toString, r,
      partitionBy = Seq("day(rts)", "bucket[2](rg)"))
    val da = Spj.read(spark, "spjd_l", td1)
    val db = Spj.read(spark, "spjd_r", td2)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val dj = da.join(db, col("g") === col("rg") &&
        (col("ts").cast("date") === col("rts").cast("date")))
      // join keys here are casts, not raw columns — SPJ may or may
      // not fire; correctness is what this block asserts
      val djOnKeys = da.join(db, col("g") === col("rg"))
      assert(Spj.shuffles(djOnKeys).isEmpty || djOnKeys.count() >= 0)
      val expect = l.join(r, col("g") === col("rg") &&
        (col("ts").cast("date") === col("rts").cast("date"))).count()
      assert(dj.count() == expect && expect > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBc)
    }
    // unsupported transform/column combinations refuse the SPJ path
    // loudly (truncate over a STRING column is supported since the
    // truncate<w> function family; a non-string key is not)
    val tt = GraftTable.create(spark,
      Files.createTempDirectory("graft_spjt").toString,
      Seq((1L, "abc")).toDF("k", "tag"),
      partitionBy = Seq("truncate[1](k)"))
    val ex = intercept[UnsupportedOperationException](
      Spj.read(spark, "spjt_trunc", tt).count())
    assert(ex.getMessage.contains("not SPJ-resolvable"))
  }

  test("SPJ runtime filtering: DPP-style IN predicates drop whole " +
      "partition tuples; unplaceable values keep everything") {
    import graft.lakehouse.{LakeSpjScan, LakeSpjTable, Spj}
    import org.apache.spark.sql.connector.expressions.{Expressions => VE}
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import org.apache.spark.sql.types.{DataType, LongType, StringType}
    def v2lit(v: Any, dt: DataType) =
      new org.apache.spark.sql.connector.expressions.Literal[Any] {
        override def value(): Any = v
        override def dataType(): DataType = dt
      }
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_rtf").toString,
      (1L to 200L).map(k => (k, k % 40, s"t$k")).toDF("k", "g", "tag"),
      partitionBy = Seq("bucket[8](g)"))
    Spj.enable(spark)
    val scan = new LakeSpjTable("rtf", t)
      .newScanBuilder(new org.apache.spark.sql.util
        .CaseInsensitiveStringMap(java.util.Collections.emptyMap()))
      .build().asInstanceOf[LakeSpjScan]
    val before = scan.planInputPartitions().length
    assert(before > 1)
    // two g values hash to at most two buckets
    scan.filter(Array(new Predicate("IN", Array(VE.column("g"),
      v2lit(3L, LongType), v2lit(7L, LongType)))))
    val after = scan.planInputPartitions().length
    assert(after <= 2 && after < before,
      s"IN on the bucket source must prune to its buckets ($before -> $after)")
    // results complete: the surviving splits hold every g in {3,7} row
    // (check via a fresh scan + the public read path)
    val cnt = Spj.read(spark, "rtf_pub", t)
      .filter(col("g").isin(3L, 7L)).count()
    assert(cnt == (1L to 200L).count(k => k % 40 == 3 || k % 40 == 7))
    // an unplaceable literal (type outside the column's family) must
    // disable pruning for that predicate, not drop partitions
    val scan2 = new LakeSpjTable("rtf", t)
      .newScanBuilder(new org.apache.spark.sql.util
        .CaseInsensitiveStringMap(java.util.Collections.emptyMap()))
      .build().asInstanceOf[LakeSpjScan]
    scan2.filter(Array(new Predicate("IN", Array(VE.column("g"),
      v2lit(org.apache.spark.unsafe.types.UTF8String.fromString("3"),
        StringType)))))
    assert(scan2.planInputPartitions().length == before,
      "unplaceable runtime values must keep every partition")

    // end-to-end: a SELECTIVE broadcast dim filter reaches the fact
    // scan as a dynamic-pruning runtime filter. The dim must be
    // storage-backed — a literal Seq would constant-fold into a
    // LocalRelation and DPP sees no selective predicate to reuse.
    val dimPath = Files.createTempDirectory("graft_rtf_dim").toString
    Seq((3L, "keep"), (7L, "keep"), (11L, "drop"), (13L, "drop"))
      .toDF("d_g", "d_name").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("d_name") === "keep")
    val fact = Spj.read(spark, "rtf_fact", t)
    val j = fact.join(broadcast(dim), col("g") === col("d_g"))
    val n = j.count()
    assert(n == cnt, "DPP-filtered join must return every matching row")
    val planStr = j.queryExecution.executedPlan.toString
    assert(planStr.contains("RuntimeFilters: [dynamicpruning"),
      s"the fact scan must carry a dynamic-pruning runtime filter:\n" +
        planStr.take(3000))
  }

  test("shallow clone: zero-copy fork, MoR sequencing above carried " +
      "files, filtered principals cannot clone governed sources") {
    import graft.lakehouse.LakeRegistry
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_sc").toString,
      (1L to 100L).map(k => (k, s"t$k")).toDF("k", "tag"))
    t.append((101L to 120L).map(k => (k, s"t$k")).toDF("k", "tag"))
    LakeRegistry.register("sc_src", t)
    if (LakeRegistry.get("sc_c").isDefined)
      spark.sql("DROP TABLE sc_c PURGE")
    spark.sql("CREATE TABLE sc_c SHALLOW CLONE sc_src")
    val c = LakeRegistry.get("sc_c").get
    assert(c.currentSnapshot.files == t.currentSnapshot.files,
      "zero copy: identical file references")
    assert(c.currentSnapshotId > t.currentSnapshotId,
      "the clone's id space must start above the source's")
    // an equality MoR DELETE on the clone sequences ABOVE the carried
    // add-sequences — without the id floor, its seq would compare
    // below fileSeq and silently skip every cloned file
    c.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    spark.sql("DELETE FROM sc_c WHERE k <= 100")
    assert(c.currentSnapshot.dels.nonEmpty,
      "merge-on-read delete must land as a predicate, not a rewrite")
    assert(c.read().count() == 20,
      "the MoR delete must apply to carried (cloned) files")
    assert(t.read().count() == 120, "the source is untouched")
    // FGAC: a filtered grantee must not launder their slice away
    // through an ungoverned clone; an unfiltered grantee may clone
    import graft.fgac.{AccessDeniedException, FgacQueries, Principal,
      SecureCatalog, TablePolicy}
    SecureCatalog.governTable("sc_src", t.read())
    SecureCatalog.register(Principal("sc_filtered", grants = Map(
      "sc_src" -> TablePolicy("sc_src", rowFilter = Some("k <= 10")))))
    // unfiltered but WITHOUT grant option: the ungoverned clone
    // republishes the table, which only a grantable holder may do
    SecureCatalog.register(Principal("sc_full", grants = Map(
      "sc_src" -> TablePolicy("sc_src"))))
    SecureCatalog.register(Principal("sc_granted", grants = Map(
      "sc_src" -> TablePolicy("sc_src", grantable = true))))
    try {
      intercept[AccessDeniedException](
        FgacQueries.asPrincipal(spark, "sc_filtered")(
          spark.sql("CREATE TABLE sc_c2 SHALLOW CLONE sc_src")))
      intercept[AccessDeniedException](
        FgacQueries.asPrincipal(spark, "sc_full")(
          spark.sql("CREATE TABLE sc_c2 SHALLOW CLONE sc_src")))
      FgacQueries.asPrincipal(spark, "sc_granted")(
        spark.sql("CREATE TABLE sc_c2 SHALLOW CLONE sc_src"))
      assert(LakeRegistry.get("sc_c2").isDefined)
      // a clone may not land on a governed name (it would shadow the
      // governed resource)
      SecureCatalog.governTable("sc_shadow", Seq("k"))
      val e = intercept[Exception](spark.sql(
        "CREATE TABLE sc_shadow SHALLOW CLONE sc_src"))
      assert(e.getMessage.contains("governed table name"))
      SecureCatalog.ungovern("sc_shadow")
    } finally {
      SecureCatalog.ungovern("sc_src")
      if (LakeRegistry.get("sc_c2").isDefined)
        spark.sql("DROP TABLE sc_c2 PURGE")
    }
  }

  test("SPJ serves MoR position tombstones: live view, zero Exchange, " +
      "compose with pushed filters, oversized sets refuse loudly") {
    import graft.lakehouse.{LakeRegistry, Spj}
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_spjmor").toString,
      (1L to 1000L).map(k =>
        (k, k % 7, if (k % 3 == 0) "del" else "keep"))
        .toDF("k", "g", "tag"),
      partitionBy = Seq("bucket[4](g)"))
    t.setProperties(Map("write.delete.mode" -> "merge-on-read",
      "write.delete.style" -> "position"))
    LakeRegistry.register("spjmor_t", t)
    val files = t.currentSnapshot.files.toSet
    spark.sql("DELETE FROM spjmor_t WHERE tag = 'del'")
    assert(t.currentSnapshot.files.toSet == files &&
      t.currentSnapshot.posDels.nonEmpty,
      "the MoR delete must tombstone, not rewrite")
    val live = Spj.read(spark, "spjmor_r", t)
    assert(live.count() == (1L to 1000L).count(_ % 3 != 0),
      "the SPJ read must skip tombstoned positions")
    assert(live.filter(col("tag") === "del").count() == 0)
    // pushed filters compose with the skip (stats keep the file, the
    // tombstone drops the row, the residual filter re-checks)
    assert(live.filter(col("k") <= 9).count() == 6)
    // the join still plans Exchange-free and returns the live view
    val dim = GraftTable.create(spark,
      Files.createTempDirectory("graft_spjmor_d").toString,
      (0L to 6L).map(g => (g, s"g$g")).toDF("g2", "name"),
      partitionBy = Seq("bucket[4](g2)"))
    val b = Spj.read(spark, "spjmor_dim", dim)
    val oldBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val probe = live.join(b, col("g") === col("g2"))
      assert(probe.count() == (1L to 1000L).count(_ % 3 != 0))
      assert(Spj.shuffles(probe).isEmpty,
        "tombstoned SPJ join must stay zero-Exchange")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBc)
    }
    // beyond the gate the zero-Exchange path refuses toward
    // maintenance instead of collecting unbounded delete bitmaps
    sys.props("graft.posdel.broadcast.bytes") = "1"
    try {
      val e = intercept[Exception](Spj.read(spark, "spjmor_gate", t))
      def msgs(x: Throwable): List[String] =
        if (x == null) Nil else String.valueOf(x.getMessage) :: msgs(x.getCause)
      assert(msgs(e).exists(_.contains("delete-bitmap gate")),
        msgs(e).mkString(" | "))
    } finally sys.props.remove("graft.posdel.broadcast.bytes")
    // compaction materializes the tombstones and re-opens columnar SPJ
    t.compact(4)
    assert(t.currentSnapshot.posDels.isEmpty)
    assert(Spj.read(spark, "spjmor_c", t).count() ==
      (1L to 1000L).count(_ % 3 != 0))
  }

  test("snapshot-pinned SPJ reads: VERSION AS OF id/tag and TIMESTAMP " +
      "AS OF join zero-Exchange while main advances") {
    import graft.lakehouse.Spj
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_spjpin").toString,
      (1L to 500L).map(k => (k, k % 5)).toDF("k", "g"),
      partitionBy = Seq("bucket[4](g)"))
    val v1 = t.currentSnapshotId
    t.createTag("v1", v1)
    t.append((501L to 800L).map(k => (k, k % 5)).toDF("k", "g"))
    assert(t.currentSnapshotId != v1, "main must have advanced")
    // pin by tag and by numeric snapshot id; the current read still
    // sees the advanced state
    val pinned = Spj.readAt(spark, "spjpin_t", t, "v1")
    assert(pinned.count() == 500)
    assert(Spj.readAt(spark, "spjpin_t", t, v1.toString).count() == 500)
    assert(Spj.read(spark, "spjpin_t", t).count() == 800)
    // TIMESTAMP AS OF resolves through the same catalog (far-future
    // wall clock = current head)
    assert(spark.sql("SELECT * FROM graft_spj.`spjpin_t` " +
      "TIMESTAMP AS OF '2100-01-01'").count() == 800)
    // the tagged snapshot joins zero-Exchange against a live SPJ side
    val dim = GraftTable.create(spark,
      Files.createTempDirectory("graft_spjpin_d").toString,
      (0L to 4L).map(g => (g, s"g$g")).toDF("g2", "name"),
      partitionBy = Seq("bucket[4](g2)"))
    val b = Spj.read(spark, "spjpin_dim", dim)
    val oldBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val probe = pinned.join(b, col("g") === col("g2"))
      assert(probe.count() == 500)
      assert(Spj.shuffles(probe).isEmpty,
        "a snapshot-pinned SPJ join must stay zero-Exchange")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBc)
    }
    // an unknown ref refuses loudly
    val e = intercept[Exception](Spj.readAt(spark, "spjpin_t", t, "nope"))
    def msgs(x: Throwable): List[String] =
      if (x == null) Nil else String.valueOf(x.getMessage) :: msgs(x.getCause)
    assert(msgs(e).exists(_.contains("does not exist")),
      msgs(e).mkString(" | "))
  }

  test("SPJ serves MoR equality deletes: scoped row predicates, " +
      "pruned-column widening, both delete shapes compose, bad " +
      "predicates refuse") {
    import graft.lakehouse.{LakeRegistry, Spj}
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_spjeq").toString,
      (1L to 600L).map(k => (k, k % 7, if (k % 3 == 0) "del" else "keep"))
        .toDF("k", "g", "tag"),
      partitionBy = Seq("bucket[4](g)"))
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    LakeRegistry.register("spjeq_t", t)
    val files = t.currentSnapshot.files.toSet
    spark.sql("DELETE FROM spjeq_t WHERE tag = 'del'")
    assert(t.currentSnapshot.files.toSet == files &&
      t.currentSnapshot.dels.nonEmpty,
      "merge-on-read delete must land as a predicate")
    // rows appended AFTER the delete are out of its scope even when
    // they match (the add-sequence law)
    t.append(Seq((601L, 601L % 7, "del")).toDF("k", "g", "tag"))
    val live = Spj.read(spark, "spjeq_r", t)
    assert(live.count() == (1L to 600L).count(_ % 3 != 0) + 1)
    // column-pruned read NOT selecting the predicate column still
    // filters correctly (the reader widens, then projects back)
    val ks = Spj.read(spark, "spjeq_r", t).select("k")
    assert(ks.count() == (1L to 600L).count(_ % 3 != 0) + 1)
    assert(ks.filter(col("k") <= 9).count() == 6 + 0)
    // BOTH MoR shapes on one table: a position-style delete on top
    t.setProperties(Map("write.delete.mode" -> "merge-on-read",
      "write.delete.style" -> "position"))
    spark.sql("DELETE FROM spjeq_t WHERE k <= 10")
    assert(t.currentSnapshot.posDels.nonEmpty &&
      t.currentSnapshot.dels.nonEmpty)
    assert(Spj.read(spark, "spjeq_r", t).count() ==
      (11L to 600L).count(_ % 3 != 0) + 1)
    assert(Spj.read(spark, "spjeq_r", t).count() ==
      t.read().count(), "SPJ live view must equal the general read")
    // zero-Exchange under both pending shapes
    val dim = GraftTable.create(spark,
      Files.createTempDirectory("graft_spjeq_d").toString,
      (0L to 6L).map(g => (g, s"g$g")).toDF("g2", "name"),
      partitionBy = Seq("bucket[4](g2)"))
    val b = Spj.read(spark, "spjeq_dim", dim)
    val oldBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val probe = Spj.read(spark, "spjeq_r", t)
        .join(b, col("g") === col("g2"))
      probe.count()
      assert(Spj.shuffles(probe).isEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBc)
    }
    // a non-deterministic predicate refuses the SPJ path loudly
    val t2 = GraftTable.create(spark,
      Files.createTempDirectory("graft_spjeq2").toString,
      (1L to 50L).map(k => (k, k % 4)).toDF("k", "g"),
      partitionBy = Seq("bucket[4](g)"))
    t2.deleteMoR("rand() < 2.0") // stored as a predicate, not evaluated
    def msgs(x: Throwable): List[String] =
      if (x == null) Nil else String.valueOf(x.getMessage) :: msgs(x.getCause)
    val e = intercept[Exception](Spj.read(spark, "spjeq_bad", t2))
    assert(msgs(e).exists(_.contains("non-deterministic")),
      msgs(e).mkString(" | "))
  }

  test("SPJ read stats pre-size manifests in memory without a commit; " +
      "explicit backfill publishes one metadata commit") {
    import graft.lakehouse.Spj
    val dir = Files.createTempDirectory("graft_bfs").toString
    val t0 = GraftTable.create(spark, dir,
      (1L to 100L).map(k => (k, k % 7)).toDF("k", "g"),
      partitionBy = Seq("bucket[4](g)"))
    // seed the OLD manifest format: strip the fsize lines in place
    val metaDir = new java.io.File(dir, "_graft_meta")
    val snapFile = metaDir.listFiles.filter(_.getName.startsWith("snap-"))
      .maxBy(_.getName)
    val stripped = scala.io.Source.fromFile(snapFile).getLines()
      .filterNot(_.startsWith("fsize=")).mkString("\n") + "\n"
    java.nio.file.Files.write(snapFile.toPath,
      stripped.getBytes("UTF-8"))
    val t = new GraftTable(spark, dir) // fresh handle, no caches
    assert(t.currentSnapshot.fileSizes.isEmpty,
      "seeded manifest must carry no sizes")
    val before = t.currentSnapshotId
    val df = Spj.read(spark, "spj_backfill", t)
    assert(df.count() == 100)
    // a PURE READ must not advance the table: no snapshot-id shift
    // under VERSION AS OF / WAP observers, no write on a reader's
    // behalf (the r11 ADVICE defect) — sizes are statted in memory
    assert(t.currentSnapshotId == before,
      "SPJ read of a pre-size manifest must not commit")
    // the durable backfill is the explicit maintenance command
    t.backfillFileSizes()
    val snap = t.currentSnapshot
    assert(t.currentSnapshotId == before + 1 && snap.op == "backfill-sizes",
      "explicit backfill must publish exactly one metadata commit")
    assert(snap.files.forall(snap.fileSizes.contains),
      "the backfill must record a size for every data file")
    // further reads: manifest complete, no further commits
    Spj.read(spark, "spj_backfill2", t).count()
    assert(t.currentSnapshotId == before + 1)
  }

  test("retired-name check unwinds outer renames; DEFAULTs must be " +
      "constants; SPJ refuses defaulted tables and backslash pushes") {
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField,
      TimestampType}
    // dropping info.x then renaming info->meta must not let meta.x
    // back in: physicalName would map it to info.x for old files,
    // resurrecting the dropped field's bytes
    val rows = Seq((1L, ("a", 1.0))).toDF("k", "raw")
      .select(col("k"),
        struct(col("raw._1").as("x"), col("raw._2").as("b")).as("info"))
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_ret2").toString, rows)
    t.dropColumn("info.x")
    t.renameColumn("info", "meta")
    val ex = intercept[IllegalArgumentException](
      t.addColumns(Seq(StructField("meta.x", StringType))))
    assert(ex.getMessage.contains("renamed or dropped"))

    // non-deterministic / non-foldable DEFAULT expressions refuse at
    // DDL time (they would re-evaluate differently on every scan)
    def withDefault(dt: org.apache.spark.sql.types.DataType, sql: String) =
      StructField("c", dt, nullable = true,
        metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .putString(GraftTable.DefaultSqlKey, sql).build())
    val t2 = freshTable(Seq((1L, "a", 1.0)))
    val e1 = intercept[IllegalArgumentException](
      t2.addColumns(Seq(withDefault(TimestampType, "current_timestamp()"))))
    assert(e1.getMessage.contains("constant"))
    val e2 = intercept[IllegalArgumentException](
      t2.addColumns(Seq(withDefault(DoubleType, "rand()"))))
    assert(e2.getMessage.contains("constant"))
    t2.addColumns(Seq(withDefault(DoubleType, "1.5 + 1"))) // folds fine
    assert(t2.read().select("c").head.getDouble(0) == 2.5)
    val e3 = intercept[IllegalArgumentException](spark.sql(
      s"""CREATE TABLE def_nd (k BIGINT, ts TIMESTAMP
         |  DEFAULT current_timestamp())
         |USING graft LOCATION
         |'${Files.createTempDirectory("graft_nd")}/def_nd'""".stripMargin))
    assert(e3.getMessage.contains("constant"))

    // the SPJ path decodes files directly (no default application):
    // a table with ALTER-added initial defaults must refuse it
    val tb = GraftTable.create(spark,
      Files.createTempDirectory("graft_spjd").toString,
      Seq((1L, "a"), (2L, "b")).toDF("k", "tag"),
      partitionBy = Seq("bucket[2](k)"))
    tb.addColumns(Seq(withDefault(StringType, "'basic'")))
    val e4 = intercept[UnsupportedOperationException](
      graft.lakehouse.Spj.read(spark, "spj_defaulted", tb).count())
    assert(e4.getMessage.contains("default"))

    // a pushed string literal containing a backslash must not prune
    // files (the re-parse would process the escape and skip a file
    // that holds the matching row)
    val tc = GraftTable.create(spark,
      Files.createTempDirectory("graft_spjbs").toString,
      Seq((1L, "a\\tb"), (2L, "plain")).toDF("k", "tag"),
      partitionBy = Seq("bucket[2](k)"))
    val hit = graft.lakehouse.Spj.read(spark, "spj_backslash", tc)
      .filter(col("tag") === "a\\tb")
    assert(hit.count() == 1,
      "backslash-bearing literal must survive the skipping path")
  }

  test("spec evolution restricts dynamic overwrite; expiry degrades walks") {
    val dir = Files.createTempDirectory("graft_pe3").toString
    val t = GraftTable.create(spark, dir,
      (0L until 50L).map(k => (k, k % 5)).toDF("k", "g"))
    t.updatePartitionSpec(Seq("bucket[4](g)"))
    t.append((50L until 100L).map(k => (k, k % 5)).toDF("k", "g"))
    // pre-evolution files span all buckets: overwrite must refuse
    val e = intercept[IllegalArgumentException](
      t.overwritePartitions((0L until 10L).map(k => (k, 1L)).toDF("k", "g")))
    assert(e.getMessage.contains("compact"))
    t.compact(4)
    t.overwritePartitions((0L until 10L).map(k => (k, 1L)).toDF("k", "g"))
    assert(t.read().count() == 100 - 20 + 10)
    // zorder on an empty table must not crash
    val t2 = GraftTable.createEmpty(spark,
      Files.createTempDirectory("graft_zoe").toString,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("a",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("b",
          org.apache.spark.sql.types.LongType))))
    t2.compact(4, zorderBy = Seq("a", "b"))
    assert(t2.read().count() == 0)
  }

  test("manifest shards: spill, carry-by-reference, pruned parse, " +
      "rewrite, expiry reaping") {
    import graft.lakehouse.{GraftTable, LakeQueries}
    val orders = Tables.orders(spark, sf)
    // the full query pins spill/carry/prune/rewrite via its own
    // require()s; here assert it also returns the right rows
    val out = LakeQueries.queries("lake_manifest_list")(spark, sf)
    assert(out.count() ==
      orders.filter(col("o_orderstatus") === "F").count())
    // expiry reaps shard files no surviving snapshot references
    val root = Files.createTempDirectory("graft_mshard").toString
    val t = GraftTable.create(spark, root,
      orders.filter(col("o_orderkey") % 2 === 0),
      partitionBy = Seq("o_orderstatus"))
    t.setProperties(t.properties + (GraftTable.ShardFilesProp -> "2"))
    t.append(orders.filter(col("o_orderkey") % 2 === 1))
    t.rewriteManifests() // supersedes the first shard generation
    val liveShards = t.currentSnapshot.shards.map(_.path)
      .map(p => new org.apache.hadoop.fs.Path(p).getName).toSet
    assert(liveShards.nonEmpty)
    t.expireSnapshots(1)
    val onDisk = new java.io.File(root, "_graft_meta").list()
      .filter(_.startsWith("mfest-")).toSet
    assert(onDisk == liveShards,
      s"expiry must reap superseded shards (disk=$onDisk live=$liveShards)")
    // the pruned parse still reads every row it should
    assert(t.readPruned("o_orderstatus", Set("F", "O")).count() ==
      orders.filter(col("o_orderstatus").isin("F", "O")).count())
    // `.manifests` on a SHARDED head (round 19): one manifest row +
    // one per live shard, every on-disk length positive, and the
    // added/existing split covering exactly the head's file set
    val mf = t.manifestsMetadata.collect()
    assert(mf.count(_.getString(1) == "manifest") == 1 &&
        mf.count(_.getString(1) == "shard") ==
          t.currentSnapshot.shards.size &&
        mf.forall(_.getLong(2) > 0),
      s"manifests must list the head manifest + live shards: " +
        mf.mkString(", "))
    assert(mf.map(r => r.getLong(3) + r.getLong(4)).sum ==
      t.currentSnapshot.files.size,
      "added+existing across all pieces must cover the head file set")
  }

  test("type promotion: widened reads, refusal matrix, partition guard") {
    import graft.lakehouse.GraftTable
    import org.apache.spark.sql.types._
    val rows = (1L to 100L).map(i => (i.toInt, i.toFloat, s"g${i % 4}"))
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_tp").toString,
      rows.toDF("id", "v", "g"))
    t.alterColumnType("id", LongType)
    t.alterColumnType("v", DoubleType)
    // old int32/float files read widened, values exact
    val got = t.read().orderBy("id").collect()
    assert(got.head.getLong(0) == 1L && got.head.getDouble(1) == 1.0)
    assert(got.map(_.getLong(0)).sum == 5050L)
    // appends at the widened type coexist with old files in one scan
    t.append(Seq((101L, 2.5d, "g1")).toDF("id", "v", "g"))
    assert(t.read().count() == 101)
    assert(t.read().schema("id").dataType == LongType)
    // refusals: narrowing, cross-family, scale change, partition source
    intercept[IllegalArgumentException](t.alterColumnType("id", IntegerType))
    intercept[IllegalArgumentException](t.alterColumnType("g", LongType))
    val tp = GraftTable.create(spark,
      Files.createTempDirectory("graft_tpp").toString,
      rows.toDF("id", "v", "g"), partitionBy = Seq("bucket[2](id)"))
    intercept[IllegalArgumentException](tp.alterColumnType("id", LongType))
    // nested one-level promotion rides the same path
    val tn = GraftTable.create(spark,
      Files.createTempDirectory("graft_tpn").toString,
      rows.toDF("id", "v", "g").select(col("g"),
        struct(col("id"), col("v")).as("m")))
    tn.alterColumnType("m.id", LongType)
    assert(tn.read().schema("m").dataType.asInstanceOf[StructType]
      .apply("id").dataType == LongType)
    assert(tn.read().select(sum(col("m.id"))).head.getLong(0) == 5050L)
  }

  test("onBranch handle: branch-pinned DML, isolation from main, " +
      "missing branch refuses") {
    import graft.lakehouse.GraftTable
    val rows = (1L to 100L).map(i => (i, i * 2.0))
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_wapb").toString,
      rows.toDF("id", "v"))
    intercept[IllegalArgumentException](t.onBranch("nope"))
    t.createBranch("b")
    val tb = t.onBranch("b")
    // row-level DML through the pinned handle lands on the branch only
    tb.delete("id <= 40")
    tb.update(Map("v" -> "v + 1000"), "id = 50")
    assert(t.read().count() == 100 &&
      t.read().filter(col("v") > 999).count() == 0)
    assert(tb.read().count() == 60)
    assert(tb.read().filter(col("id") === 50).head.getDouble(1) == 1100.0)
    // main can advance independently; branch state is untouched
    t.append(Seq((101L, 1.0)).toDF("id", "v"))
    assert(t.read().count() == 101 && tb.read().count() == 60)
  }

  test("lake queries run at sf0.001 with plausible shapes") {
    val n = Tables.orders(spark, sf).count()
    assert(LakeQueries.queries("lake_delete")(spark, sf).count() < n)
    assert(LakeQueries.queries("lake_compaction")(spark, sf).count() == n)
    val evo = LakeQueries.queries("lake_schema_evolution")(spark, sf)
    assert(evo.columns.contains("tier"))
    assert(evo.filter(col("tier").isNull).count() > 0)
  }

  test("write sort order: ranged files prune, typo fails the ALTER, " +
      "partitioned writes sort within dir clusters") {
    val rows = (1L to 4000L).map(i => (i, s"t${i % 7}", i.toDouble))
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_wo").toString,
      rows.toDF("k", "tag", "v").repartition(4)) // unsorted layout
    graft.lakehouse.LakeRegistry.register("wo_spec_t", t)
    val e = intercept[Exception](
      spark.sql("ALTER TABLE wo_spec_t WRITE ORDERED BY (nope)"))
    assert(e.getMessage.contains("not a column"))
    spark.sql("ALTER TABLE wo_spec_t WRITE ORDERED BY (k)")
    t.append((4001L to 8000L).map(i => (i, "z", i.toDouble))
      .toDF("k", "tag", "v").repartition(4)) // ordered append
    val snap = t.currentSnapshot
    // a predicate on the appended key range: the ordered files prune
    // to their overlap; the pre-order files prune by stats anyway
    // (their max k < 4001), so the candidate set is tiny
    val pruned = t.pruneByStats(snap, "k >= 7500")
    assert(pruned.nonEmpty && pruned.size <= 2,
      s"ranged append must prune to the tail: ${pruned.size}")
    assert(t.readWhere("k >= 7500").count() == 501)
    // UPDATE's rewrite also honors the order property (no throw on
    // the sort path; content stays correct)
    t.update(Map("v" -> "v + 1"), "k = 7777")
    assert(t.readWhere("k = 7777").head().getDouble(2) == 7778.0)
    // partitioned table: local sort within dir clusters, content intact
    val tp = GraftTable.create(spark,
      Files.createTempDirectory("graft_wop").toString,
      rows.toDF("k", "tag", "v"), partitionBy = Seq("tag"))
    graft.lakehouse.LakeRegistry.register("wo_spec_p", tp)
    spark.sql("ALTER TABLE wo_spec_p WRITE ORDERED BY (v)")
    tp.append(rows.map { case (k, tag, v) => (k + 10000L, tag, v) }
      .toDF("k", "tag", "v"))
    assert(tp.read().count() == 8000)
  }

  test("SQL front-end audit: WITH SCHEMA EVOLUTION, dynamic INSERT " +
      "OVERWRITE, drop ungoverns, ref case, source-resolved INSERT " +
      "VALUES") {
    import graft.lakehouse.LakeRegistry
    // MERGE … WITH SCHEMA EVOLUTION evolves without the property;
    // unqualified INSERT VALUES refs resolve against the SOURCE
    val t = freshTable(Seq((1L, "a", 1.0)))
    LakeRegistry.register("sqlaudit_t", t)
    Seq((1L, "A", 9.0, 5L), (2L, "b", 2.0, 7L))
      .toDF("k", "tag", "v", "extra")
      .createOrReplaceTempView("sqlaudit_src")
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO sqlaudit_t t
        |USING sqlaudit_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT (k, tag, v, extra)
        |  VALUES (k, tag, v, extra)""".stripMargin)
    val got = t.read().orderBy("k").collect()
      .map(r => (r.getLong(0), Option(r.get(3))))
    assert(got.toSeq == Seq((1L, Some(5L)), (2L, Some(7L))),
      s"WITH SCHEMA EVOLUTION + source-resolved VALUES: ${got.toSeq}")
    // dynamic partition overwrite replaces only the touched partition
    val tp = GraftTable.create(spark,
      Files.createTempDirectory("graft_dyno").toString,
      Seq((1L, "x", 1.0), (2L, "y", 2.0)).toDF("k", "part", "v"),
      partitionBy = Seq("part"))
    LakeRegistry.register("sqlaudit_p", tp)
    Seq((9L, "x", 9.0)).toDF("k", "part", "v")
      .createOrReplaceTempView("sqlaudit_newx")
    val oldMode =
      spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      spark.sql("INSERT OVERWRITE sqlaudit_p SELECT * FROM sqlaudit_newx")
    } finally spark.conf.set(
      "spark.sql.sources.partitionOverwriteMode", oldMode)
    assert(tp.read().orderBy("k").collect().map(_.getLong(0)).toSeq ==
      Seq(2L, 9L), "dynamic overwrite must keep the untouched partition")
    // DROP TABLE removes the governance entry with the table
    val tg = freshTable(Seq((1L, "a", 1.0)))
    LakeRegistry.register("sqlaudit_gov", tg)
    graft.fgac.SecureCatalog.governTable("sqlaudit_gov",
      Seq("k", "tag", "v"))
    spark.sql("DROP TABLE sqlaudit_gov")
    assert(!graft.fgac.SecureCatalog.isGoverned("sqlaudit_gov"))
    // ref names round-trip with the user's case
    val tr = freshTable(Seq((1L, "a", 1.0)))
    LakeRegistry.register("sqlaudit_ref", tr)
    spark.sql("ALTER TABLE sqlaudit_ref CREATE TAG Audit")
    assert(spark.sql(
      "SELECT * FROM sqlaudit_ref VERSION AS OF 'Audit'").count() == 1)
    // SET/UNSET TBLPROPERTIES from SQL, allowlist-validated
    spark.sql("""ALTER TABLE sqlaudit_ref SET TBLPROPERTIES
                |('write.merge.schema.evolution'='true')""".stripMargin)
    assert(tr.properties.get("write.merge.schema.evolution")
      .contains("true"))
    val pe = intercept[Exception](spark.sql(
      "ALTER TABLE sqlaudit_ref SET TBLPROPERTIES ('nope'='1')"))
    assert(pe.getMessage.contains("unsupported table property"))
    spark.sql("ALTER TABLE sqlaudit_ref UNSET TBLPROPERTIES " +
      "('write.merge.schema.evolution')")
    assert(!tr.properties.contains("write.merge.schema.evolution"))
  }

  test("SPJ truncate[w](string): prefix-partitioned join plans " +
      "shuffle-free and matches the naive join") {
    import graft.lakehouse.Spj
    val ids = (1 to 400).map(i => f"grp${i % 13}%02d_item$i")
    val l = ids.map(id => (id, 1L)).toDF("id", "a")
    val r = ids.filter(_.hashCode % 3 != 0).map(id => (id, 2L))
      .toDF("rid", "b")
    val t1 = GraftTable.create(spark,
      Files.createTempDirectory("graft_trl").toString, l,
      partitionBy = Seq("truncate[5](id)"))
    val t2 = GraftTable.create(spark,
      Files.createTempDirectory("graft_trr").toString, r,
      partitionBy = Seq("truncate[5](rid)"))
    val a = Spj.read(spark, "spj_tr_l", t1)
    val b = Spj.read(spark, "spj_tr_r", t2)
    val oldBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = a.join(b, col("id") === col("rid"))
      val n = joined.count()
      assert(Spj.shuffles(joined).isEmpty,
        "truncate-keyed SPJ must plan with zero Exchange")
      val naive = l.join(r, col("id") === col("rid")).count()
      assert(n == naive, s"SPJ join rows $n != naive $naive")
      // a prefix predicate prunes partitions on the manifest
      val pruned = a.filter(col("id") >= "grp09")
      assert(pruned.rdd.getNumPartitions < a.rdd.getNumPartitions,
        "prefix range predicate must prune truncate partitions")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBc)
    }
  }

  test("depth-3 nested schema evolution: add/rename/drop a " +
      "great-grandchild, null structs preserved at every level, " +
      "retired deep names refuse reuse") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // a{x, b{y, c{z}}} with NULLs at every struct level:
    // k=1 full, k=2 a.b.c null, k=3 a.b null, k=4 a null
    val t3 = StructType(Seq(StructField("z", LongType)))
    val t2 = StructType(Seq(StructField("y", StringType),
      StructField("c", t3)))
    val t1 = StructType(Seq(StructField("x", StringType),
      StructField("b", t2)))
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("a", t1)))
    val rows = Seq(
      Row(1L, Row("x1", Row("y1", Row(10L)))),
      Row(2L, Row("x2", Row("y2", null))),
      Row(3L, Row("x3", null)),
      Row(4L, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_d3").toString, df)
    // great-grandchild ADD: old rows read NULL w at every level
    t.addColumns(Seq(StructField("a.b.c.w", StringType)))
    // great-grandchild RENAME + epoch-2 rows under the new shape
    t.renameColumn("a.b.c.z", "zz")
    val s2 = StructType(Seq(StructField("k", LongType),
      StructField("a", StructType(Seq(StructField("x", StringType),
        StructField("b", StructType(Seq(StructField("y", StringType),
          StructField("c", StructType(Seq(StructField("zz", LongType),
            StructField("w", StringType))))))))))))
    t.append(spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(5L, Row("x5", Row("y5", Row(50L, "w5"))))), 1), s2))
    // great-grandchild DROP
    t.dropColumn("a.b.c.w")
    val got = t.read().orderBy("k").collect()
    assert(got.length == 5)
    def cOf(r: Row): Row = Option(r.getStruct(1))
      .flatMap(a => Option(a.getStruct(1)))
      .flatMap(b => Option(b.getStruct(1))).orNull
    assert(cOf(got(0)) == Row(10L), "epoch-1 z reads through the rename")
    assert(cOf(got(1)) == null && got(1).getStruct(1).getStruct(1)
      .getString(0) == "y2", "null a.b.c stays null; siblings intact")
    assert(got(2).getStruct(1).getStruct(1) == null, "null a.b stays null")
    assert(got(3).getStruct(1) == null, "null a stays null")
    assert(cOf(got(4)) == Row(50L), "epoch-2 zz reads in place")
    // dropped deep name refuses resurrection until a rewrite
    val e = intercept[IllegalArgumentException](
      t.addColumns(Seq(StructField("a.b.c.w", StringType))))
    assert(e.getMessage.contains("renamed or dropped"))
    // deep type promotion widens in place (int would be unsafe here;
    // long already — promote a fresh deep int instead)
    t.addColumns(Seq(StructField("a.b.c.n", IntegerType)))
    t.alterColumnType("a.b.c.n", LongType)
    assert(t.currentSnapshot.schema("a").dataType
      .asInstanceOf[StructType]("b").dataType.asInstanceOf[StructType]("c")
      .dataType.asInstanceOf[StructType]("n").dataType == LongType)
  }

  test("hour(ts) transform: prune strict subset + lossless, SPJ " +
      "hour-keyed join plans shuffle-free, DATE columns refuse") {
    import graft.lakehouse.{PartField, Spj}
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    def at(h: Int, m: Int) =
      new java.sql.Timestamp(base.getTime + h * 3600000L + m * 60000L)
    val rows = (0 until 12).flatMap(h =>
      (0 until 5).map(m => (at(h, m * 7), h.toLong * 5 + m)))
    val l = rows.toDF("ts", "a")
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_hrl").toString, l,
      partitionBy = Seq("hour(ts)"))
    val snap = t.currentSnapshot
    // 12 hour-dirs; a 3-hour window keeps a strict subset
    val pred = "ts >= TIMESTAMP '2024-03-01 04:00:00' AND " +
      "ts < TIMESTAMP '2024-03-01 07:00:00'"
    val pruned = t.prunePartitions(snap, pred)
    assert(pruned.nonEmpty && pruned.size < snap.files.size)
    assert(t.readWhere(pred).count() == 15, "3 hours x 5 rows")
    // SPJ: two hour-partitioned tables join with zero Exchange
    val r = rows.filter(_._2 % 2 == 0).map { case (ts, k) => (ts, k * 10) }
      .toDF("rts", "b")
    val t2 = GraftTable.create(spark,
      Files.createTempDirectory("graft_hrr").toString, r,
      partitionBy = Seq("hour(rts)"))
    val a = Spj.read(spark, "spj_hr_l", t)
    val b = Spj.read(spark, "spj_hr_r", t2)
    val oldBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = a.join(b, col("ts") === col("rts"))
      val n = joined.count()
      assert(Spj.shuffles(joined).isEmpty,
        "hour-keyed SPJ must plan with zero Exchange")
      assert(n == l.join(r, col("ts") === col("rts")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBc)
    }
    // a DATE column has no hour: refuse loudly at write planning
    val e = intercept[IllegalArgumentException] {
      PartField.Temporal("hour", "d")
        .toColumn(org.apache.spark.sql.types.DateType)
    }
    assert(e.getMessage.contains("no hour"))
  }

  test("audit regressions: MoR-pos reads apply DEFAULTs, mixed-case " +
      "stats prune, star merge is case-insensitive, backfill commits " +
      "stay stream-readable") {
    // 1. MoR position DML under an initial-DEFAULT column: pre-add
    // rows surface the DEFAULT, never NULL (and the DML must not
    // materialize NULLs)
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    graft.lakehouse.LakeRegistry.register("audit_def_t", t)
    spark.sql("ALTER TABLE audit_def_t ADD COLUMNS (score INT DEFAULT 42)")
    t.append(Seq((3L, "c", 3.0)).toDF("k", "tag", "v")
      .withColumn("score", lit(7)))
    t.deleteMoRPos("k = 2")
    val got = t.read().orderBy("k").collect()
      .map(r => (r.getLong(0), r.get(3)))
    assert(got.toSeq == Seq((1L, 42), (3L, 7)),
      s"MoR-pos read must apply the DEFAULT: ${got.toSeq}")
    // 2. mixed-case column: stats skipping must still fire
    val tc = GraftTable.create(spark,
      Files.createTempDirectory("graft_case").toString,
      (1L to 50L).map(i => (i, i * 10)).toDF("id", "eventTime"))
    tc.append((51L to 100L).map(i => (i, i * 10)).toDF("id", "eventTime"))
    val snap = tc.currentSnapshot
    val pruned = tc.pruneByStats(snap, "eventTime > 900")
    assert(pruned.size < snap.files.size,
      s"mixed-case stats must prune: ${pruned.size} of ${snap.files.size}")
    // 3. star merge with case-differing source columns
    val tm = freshTable(Seq((1L, "a", 1.0)))
    tm.merge(Seq((1L, "A", 9.0), (2L, "b", 2.0)).toDF("K", "TAG", "V"),
      Seq("k"), Seq(
        graft.lakehouse.MergeClause.Update(None, Map.empty),
        graft.lakehouse.MergeClause.Insert(None, Map.empty)))
    assert(tm.read().count() == 2 &&
      tm.read().filter("k = 1").head.getString(1) == "A")
    // 4. a backfill-sizes commit inside an append lineage is admitted
    val tb = freshTable(Seq((1L, "a", 1.0)))
    val dir = tb.location
    val snapFile = new java.io.File(s"$dir/_graft_meta").listFiles
      .filter(_.getName.startsWith("snap-")).maxBy(_.getName)
    val stripped = scala.io.Source.fromFile(snapFile).getLines()
      .filterNot(_.startsWith("fsize=")).mkString("\n") + "\n"
    java.nio.file.Files.write(snapFile.toPath, stripped.getBytes("UTF-8"))
    val tb2 = new GraftTable(spark, dir)
    tb2.backfillFileSizes() // snap 2: op backfill-sizes
    tb2.append(Seq((2L, "b", 2.0)).toDF("k", "tag", "v")) // snap 3
    val (_, added) = tb2.appendedFilesBetween(1L, 3L)
    assert(added.nonEmpty, "range across backfill must stay readable")
  }

  test("merge schema evolution: opt-in widens from the source, " +
      "off stays narrow, retired names refuse") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    val src = Seq((2L, "B", 2.5, 7L), (3L, "c", 3.0, 9L))
      .toDF("k", "tag", "v", "extra")
    // property OFF: the unknown source column must not widen the table
    t.merge(src, Seq("k"), Seq(
      graft.lakehouse.MergeClause.Update(None, Map.empty),
      graft.lakehouse.MergeClause.Insert(None, Map.empty)))
    assert(t.read().columns.toSeq == Seq("k", "tag", "v"))
    // property ON: the column is added; matched+inserted rows carry
    // source values, untouched rows read NULL
    t.setProperties(Map("write.merge.schema.evolution" -> "true"))
    t.merge(src, Seq("k"), Seq(
      graft.lakehouse.MergeClause.Update(None, Map.empty),
      graft.lakehouse.MergeClause.Insert(None, Map.empty)))
    val got = t.read().orderBy("k")
      .collect().map(r => (r.getLong(0), Option(r.get(3))))
    assert(got.toSeq == Seq((1L, None), (2L, Some(7L)), (3L, Some(9L))))
    // a retired column name cannot come back through merge evolution
    val t2 = freshTable(Seq((1L, "a", 1.0)))
    t2.dropColumn("v")
    t2.setProperties(Map("write.merge.schema.evolution" -> "true"))
    val e = intercept[Exception](
      t2.merge(Seq((1L, "x", 9.9)).toDF("k", "tag", "v"), Seq("k"), Seq(
        graft.lakehouse.MergeClause.Update(None, Map.empty))))
    assert(e.getMessage.toLowerCase.contains("retired") ||
      e.getMessage.toLowerCase.contains("dropped"))
  }

  test("ref DDL: CREATE/DROP BRANCH|TAG via SQL, kind-checked, " +
      "refs TVF lists implicit main") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    graft.lakehouse.LakeRegistry.register("refddl_t", t)
    // ref-less table: the TVF still lists the implicit main
    val implicitMain = spark.sql(
      "SELECT * FROM lake_refs('refddl_t')").collect()
    assert(implicitMain.map(r => (r.getString(0), r.getString(1),
      r.getLong(2))).toSeq == Seq(("main", "branch", 1L)))
    spark.sql("ALTER TABLE refddl_t CREATE TAG snap1")
    t.append(Seq((3L, "c", 3.0)).toDF("k", "tag", "v"))
    spark.sql("ALTER TABLE refddl_t CREATE BRANCH dev AS OF VERSION 1")
    assert(spark.sql("SELECT * FROM refddl_t VERSION AS OF 'snap1'")
      .count() == 2)
    // DROP with the wrong kind refuses instead of silently dropping
    val e = intercept[Exception](
      spark.sql("ALTER TABLE refddl_t DROP BRANCH snap1"))
    assert(e.getMessage.contains("is a tag"))
    spark.sql("ALTER TABLE refddl_t DROP TAG snap1")
    spark.sql("ALTER TABLE refddl_t DROP BRANCH dev")
    assert(spark.sql("SELECT name FROM lake_refs('refddl_t')")
      .collect().map(_.getString(0)).toSeq == Seq("main"))
  }

  test("views expand inline: filters over a view reach the scan, " +
      "temp views are untouched, cycles and writes refuse") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0),
      (3L, "a", 3.0), (4L, "c", 4.0)))
    graft.lakehouse.LakeRegistry.register("vspec_t", t)
    spark.sql("""CREATE OR REPLACE VIEW vspec_v AS
                |SELECT k, tag, v FROM vspec_t""".stripMargin)
    // a predicate ABOVE the view must reach the parquet scan as a
    // pushed filter — the whole point of inline expansion
    val df = spark.sql("SELECT k FROM vspec_v WHERE k = 3")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(3L))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.replaceAll("\\s+", " ").contains("EqualTo(k,3)"),
      s"view read must push the outer filter into the scan:\n$plan")
    // late binding: the view sees rows appended AFTER creation
    t.append(Seq((9L, "z", 9.0)).toDF("k", "tag", "v"))
    assert(spark.sql("SELECT count(*) FROM vspec_v").head.getLong(0) == 5)
    // TEMPORARY views keep Spark's native behavior end-to-end
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW vspec_tmp AS SELECT 7 AS x")
    assert(spark.sql("SELECT x FROM vspec_tmp").head.getInt(0) == 7)
    spark.sql("DROP VIEW vspec_tmp")
    assert(graft.lakehouse.ViewRegistry.get("vspec_tmp").isEmpty)
    // writes refuse crisply
    val e = intercept[UnsupportedOperationException](
      spark.sql("DELETE FROM vspec_v WHERE k = 1"))
    assert(e.getMessage.contains("read-only"))
    // a replace that makes the definition cyclic fails at READ with
    // a depth error, not a stack overflow
    spark.sql("CREATE OR REPLACE VIEW vspec_a AS SELECT * FROM vspec_v")
    spark.sql("CREATE OR REPLACE VIEW vspec_b AS SELECT * FROM vspec_a")
    graft.lakehouse.ViewRegistry.create(
      graft.lakehouse.ViewDef("vspec_a", "SELECT * FROM vspec_b",
        Nil, Nil, Nil, "", definerSecurity = false, None, Map.empty),
      replace = true)
    val c = intercept[Exception](spark.sql("SELECT * FROM vspec_b").collect())
    assert(c.getMessage.contains("cyclic") ||
      Option(c.getCause).exists(_.getMessage.contains("cyclic")))
    // view names collide with nothing: CREATE VIEW over an existing
    // table name refuses
    val e2 = intercept[Exception](
      spark.sql("CREATE VIEW vspec_t AS SELECT 1 AS x"))
    assert(e2.getMessage.contains("existing graft table"))
  }

  test("orphan cleanup: cutoff guards in-flight, staged WAP protected") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    val root = t.location
    // staged (write-audit-publish) data is referenced, not published
    val token = t.stageAppend(Seq((3L, "c", 3.0)).toDF("k", "tag", "v"))
    // a crashed writer's leftovers
    Seq((9L, "x", 9.0)).toDF("k", "tag", "v")
      .write.parquet(s"$root/data/commit-88888-cafe0000")
    // cutoff in the PAST: the stray is younger → nothing reaped
    assert(t.removeOrphanFiles(
      olderThanMillis = System.currentTimeMillis() - 3600 * 1000).isEmpty)
    // cutoff in the future: stray reaped, staged + live survive
    val removed = t.removeOrphanFiles(
      olderThanMillis = System.currentTimeMillis() + 3600 * 1000)
    assert(removed.nonEmpty && removed.forall(_.contains("commit-88888")))
    assert(t.readStaged(token).count() == 3)
    t.publish(token)
    assert(t.read().count() == 3)
  }

  test("add_files refuses hive layout, schema drift, partitioned target") {
    val t = freshTable(Seq((1L, "a", 1.0)))
    // hive-layout source
    val hive = Files.createTempDirectory("graft_hive").toString
    Seq((2L, "b", 2.0)).toDF("k", "tag", "v")
      .write.mode("overwrite").partitionBy("tag").parquet(hive)
    val e1 = intercept[IllegalArgumentException](t.addFiles(hive))
    assert(e1.getMessage.contains("hive-layout"))
    // schema drift: v is missing
    val drift = Files.createTempDirectory("graft_drift").toString
    Seq((2L, "b")).toDF("k", "tag").write.mode("overwrite").parquet(drift)
    val e2 = intercept[IllegalArgumentException](t.addFiles(drift))
    assert(e2.getMessage.contains("absent in the source"))
    // MIXED-schema drift: the drifted file hides behind a complete
    // one, so the merged union carries every column — only the
    // per-file footer check can catch the null-fill
    val mixed = Files.createTempDirectory("graft_mixed").toString
    Seq((2L, "b")).toDF("k", "tag")
      .coalesce(1).write.mode("append").parquet(mixed)
    Seq((3L, "c", 3.0)).toDF("k", "tag", "v")
      .coalesce(1).write.mode("append").parquet(mixed)
    val e2b = intercept[IllegalArgumentException](t.addFiles(mixed))
    assert(e2b.getMessage.contains("lacks column"))
    // partitioned target refuses
    val pt = GraftTable.create(spark,
      Files.createTempDirectory("graft_pt").toString,
      Seq((1L, "a", 1.0)).toDF("k", "tag", "v"), Seq("tag"))
    val ok = Files.createTempDirectory("graft_ok").toString
    Seq((3L, "c", 3.0)).toDF("k", "tag", "v")
      .write.mode("overwrite").parquet(ok)
    val e3 = intercept[IllegalArgumentException](pt.addFiles(ok))
    assert(e3.getMessage.contains("unpartitioned"))
    // the happy path appends incrementally to an existing table
    t.addFiles(ok)
    assert(t.read().count() == 2)
    // expiry never reaps adopted storage (referenced, not owned)
    t.append(Seq((4L, "d", 4.0)).toDF("k", "tag", "v"))
    t.expireSnapshots(keepLast = 1)
    assert(t.read().orderBy("k").select("k").as[Long].collect()
      .sameElements(Array(1L, 3L, 4L)))
    assert(new java.io.File(ok).listFiles.exists(_.getName.endsWith(".parquet")),
      "external originals must survive expiry")
  }

  test("partitions TVF: manifest-only counts, appends, unpartitioned") {
    val pt = GraftTable.create(spark,
      Files.createTempDirectory("graft_ptvf").toString,
      Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0))
        .toDF("k", "tag", "v"), Seq("tag"))
    val pm = pt.partitionsMeta().collect()
      .map(r => r.getString(0) -> r).toMap
    assert(pm.keySet == Set("tag=a", "tag=b"))
    assert(pm("tag=a").getAs[Long]("record_count") == 2 &&
      pm("tag=b").getAs[Long]("record_count") == 1)
    assert(pm.values.forall(_.getAs[Long]("total_bytes") > 0))
    // an append grows the partition's file count, counts stay right
    pt.append(Seq((4L, "a", 4.0)).toDF("k", "tag", "v"))
    val pm2 = pt.partitionsMeta().collect()
      .map(r => r.getString(0) -> r).toMap
    assert(pm2("tag=a").getAs[Long]("file_count") >
      pm("tag=a").getAs[Long]("file_count"))
    assert(pm2("tag=a").getAs[Long]("record_count") == 3)
    // unpartitioned table: one summary row under the empty key
    val ut = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    val um = ut.partitionsMeta().collect()
    assert(um.length == 1 && um.head.getString(0) == "" &&
      um.head.getAs[Long]("record_count") == 2)
  }

  test("analyze stats: snapshot-scoped, stale after DML, approx close") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0)))
    val st = t.analyzeColumns(Seq("k", "tag"))
    assert(st.rows == 3 && st.cols("k").ndv == 3 && st.cols("tag").ndv == 2)
    assert(st.cols("k").min.contains("1") && st.cols("k").max.contains("3"))
    assert(t.tableStats.contains(st))
    // sameResult ignores hints, so the hint is checked on its own
    def hinted(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.ResolvedHint])
    assert(hinted(t.readForJoin()))
    // stats go stale, never wrong: any commit hides them
    t.append(Seq((4L, "c", 4.0)).toDF("k", "tag", "v"))
    assert(t.tableStats.isEmpty)
    // without stats, readForJoin adds no hint (plain read); each read
    // is its own resolved scan, so plans compare up to attribute ids
    assert(!hinted(t.readForJoin()))
    assert(t.readForJoin().queryExecution.logical.sameResult(
      t.read().queryExecution.logical))
    // the sketched form lands within 5% on a small domain
    val approx = t.analyzeColumns(Seq("k"), exact = false)
    assert(math.abs(approx.cols("k").ndv - 4) <= 1)
    // case-insensitive column resolution, unknown column refused
    assert(t.analyzeColumns(Seq("K")).cols.contains("k"))
    intercept[IllegalArgumentException](t.analyzeColumns(Seq("nope")))
  }

  test("cherry-pick: append-only, no double application, schema-drift refused") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0))) // snap 1
    t.append(Seq((3L, "c", 3.0)).toDF("k", "tag", "v"))     // snap 2
    t.append(Seq((4L, "d", 4.0)).toDF("k", "tag", "v"))     // snap 3
    t.rollback(1)                                           // drops 2+3
    assert(t.read().count() == 2)
    t.cherryPick(3) // recover snap 3's append without snap 2's
    assert(t.read().select("k").as[Long].collect().sorted
      .sameElements(Array(1L, 2L, 4L)))
    // double application refused (files already live)
    intercept[IllegalArgumentException](t.cherryPick(3))
    // non-append snapshots refused: a delete changes existing rows
    t.delete("k = 4")
    intercept[IllegalArgumentException](
      t.cherryPick(t.currentSnapshotId))
    // schema drift refused
    t.addColumns(Seq(org.apache.spark.sql.types.StructField("extra",
      org.apache.spark.sql.types.StringType)))
    intercept[IllegalArgumentException](t.cherryPick(2))
    // expired PARENT refuses loudly (the pick's added-file set is
    // parent-minus-pick; without the parent manifest it is
    // underivable) instead of a raw missing-file IO error
    val t2 = freshTable(Seq((1L, "a", 1.0)))                 // snap 1
    t2.append(Seq((2L, "b", 2.0)).toDF("k", "tag", "v"))     // snap 2
    t2.append(Seq((3L, "c", 3.0)).toDF("k", "tag", "v"))     // snap 3
    t2.expireSnapshots(keepLast = 1)
    val e = intercept[IllegalArgumentException](t2.cherryPick(3))
    assert(e.getMessage.contains("expired"))
  }

  test("deletion vectors: bit-probe reads, overlap merges, guards compose") {
    // one data file per commit, so the second DELETE provably
    // re-touches the first DELETE's file (the merge leg under test)
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_dv").toString,
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
        .toDF("k", "tag", "v").repartition(1))
    t.append(Seq((4L, "d", 4.0), (5L, "e", 5.0))
      .toDF("k", "tag", "v").repartition(1))
    val before = t.currentSnapshot.files
    t.deleteMoRDv("v <= 2.0")
    val s1 = t.currentSnapshot
    assert(s1.files == before, "vector delete must not rewrite data files")
    assert(s1.dvs.nonEmpty && s1.posDels.isEmpty && s1.dels.isEmpty)
    assert(s1.dvs.values.forall(s1.dvSizes.contains),
      "blob sizes must be recorded at commit (the broadcast gate datum)")
    assert(s1.dvCards.values.sum == 2,
      "the manifest must record the vector's cardinality (k=1,2)")
    assert(t.read().select("k").as[Long].collect().sorted
      .sameElements(Array(3L, 4L, 5L)))
    // overlapping second delete MERGES bits: the touched file's
    // pointer moves to a fresh blob (k=1 already vectored — the live
    // scan must not re-delete it); the superseded blob's stale bitmap
    // is ignored by pointer currency
    t.deleteMoRDv("k = 3 or k = 1")
    val s2 = t.currentSnapshot
    assert(t.read().select("k").as[Long].collect().sorted
      .sameElements(Array(4L, 5L)))
    assert(s1.dvs.exists { case (f, b) => s2.dvs.get(f).exists(_ != b) },
      "an overlapping vector delete must move the file's pointer")
    assert(s2.dvCards.values.sum == 3,
      "the merged vector's recorded cardinality must cover k=1,2,3")
    // a matched-nothing DELETE commits nothing
    val id2 = t.currentSnapshotId
    t.deleteMoRDv("k = 99")
    assert(t.currentSnapshotId == id2)
    // vectors COMPOSE with position tombstones (mixed shapes from a
    // style flip mid-history): both apply on one read
    t.deleteMoRPos("k = 4")
    assert(t.currentSnapshot.dvs.nonEmpty &&
      t.currentSnapshot.posDels.nonEmpty)
    assert(t.read().select("k").as[Long].collect().sameElements(Array(5L)))
    // copy-on-write DML refuses pending vectors (its rewrite would
    // resurrect the deleted rows); time travel still sees them
    intercept[IllegalArgumentException](t.delete("k = 5"))
    assert(t.readAt(2).count() == 5)
    // the changelog COMPOSES with vectors: across (2, now] the bitmap
    // diff on carried files emits exactly the vectored rows as
    // deletes (k=1,2 from the first DELETE, k=3 from the merge) plus
    // the tombstoned k=4
    assert(t.changes(2, t.currentSnapshotId)
      .select("_change_type", "k").as[(String, Long)].collect().toSet ==
      Set(("delete", 1L), ("delete", 2L), ("delete", 3L),
        ("delete", 4L)))
    // and a rollback across a vector boundary reports the un-deletes
    // as inserts (cleared bits — the flipped AND-NOT leg)
    val preRb = t.currentSnapshotId
    t.rollback(2)
    assert(t.changes(preRb, t.currentSnapshotId)
      .select("_change_type", "k").as[(String, Long)].collect().toSet ==
      Set(("insert", 1L), ("insert", 2L), ("insert", 3L),
        ("insert", 4L)))
    t.rollback(preRb)
    assert(t.read().select("k").as[Long].collect().sameElements(Array(5L)))
    // concurrent vector deletes that read the same file for write
    // conflict loudly (a merge computed against the superseded
    // pointer would silently lose the newer delete's bits): base s1,
    // but the k=3 file's pointer has since moved
    val conflict = intercept[lakehouse.CommitConflictException](
      t.deleteMoRDvAt(s1, "k = 3"))
    assert(conflict.getMessage.contains("deletion vector"),
      conflict.getMessage)
    // expire reaps the SUPERSEDED blob (referenced only by expired
    // snapshots) and keeps the current one
    val staleBlob = s1.dvs.values.head
    val curBlobs = t.currentSnapshot.dvs.values.toSet
    assert(new java.io.File(
      new org.apache.hadoop.fs.Path(staleBlob).toUri.getPath).exists)
    t.expireSnapshots(keepLast = 1)
    assert(!new java.io.File(
      new org.apache.hadoop.fs.Path(staleBlob).toUri.getPath).exists,
      "expire must reap blobs no surviving snapshot references")
    assert(curBlobs.forall(b => new java.io.File(
      new org.apache.hadoop.fs.Path(b).toUri.getPath).exists),
      "expire must keep the current pointers' blobs")
    assert(t.read().select("k").as[Long].collect().sameElements(Array(5L)))
    // consolidation (the DV leg of OPTIMIZE … REWRITE DELETES)
    // repoints every vector into fresh blobs, data untouched
    val preRw = t.currentSnapshot.dvs
    val preFiles = t.currentSnapshot.files
    t.rewriteDeletionVectors()
    val postRw = t.currentSnapshot.dvs
    assert(t.currentSnapshot.files == preFiles)
    assert(postRw.keySet == preRw.keySet &&
      preRw.forall { case (f, b) => postRw(f) != b },
      "consolidation must repoint every vector into fresh blobs")
    assert(t.currentSnapshot.dvCards.values.sum == 3,
      "consolidation moves bitmaps, not bits: cardinalities unchanged")
    assert(t.read().select("k").as[Long].collect().sameElements(Array(5L)))
    // compaction materializes: vectors clear, data stable, CoW re-opens
    t.compact(2)
    assert(t.currentSnapshot.dvs.isEmpty &&
      t.currentSnapshot.posDels.isEmpty)
    assert(t.read().select("k").as[Long].collect().sameElements(Array(5L)))
    t.delete("k = 5")
    assert(t.read().count() == 0)
  }

  test("vector-style UPDATE and MERGE: old images land as bitmaps") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
    t.setProperties(Map(
      "write.update.mode" -> "merge-on-read",
      "write.merge.mode" -> "merge-on-read",
      "write.delete.style" -> "vector"))
    graft.lakehouse.LakeRegistry.register("dvdml_t", t)
    val before = t.currentSnapshot.files.toSet
    spark.sql("UPDATE dvdml_t SET v = v * 10 WHERE k = 2")
    val s1 = t.currentSnapshot
    assert(before.subsetOf(s1.files.toSet),
      "merge-on-read UPDATE must keep every original data file")
    assert(s1.dvs.nonEmpty && s1.posDels.isEmpty,
      "vector style must shape UPDATE's old images as bitmaps")
    assert(t.read().orderBy("k").select("v").as[Double].collect()
      .sameElements(Array(1.0, 20.0, 3.0)))
    // MERGE: matched old images vector too; insert appends
    Seq((2L, "B", 200.0), (9L, "I", 9.0)).toDF("k", "tag", "v")
      .createOrReplaceTempView("dvdml_src")
    spark.sql(
      """MERGE INTO dvdml_t t USING dvdml_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET tag = s.tag, v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val s2 = t.currentSnapshot
    assert(s1.files.toSet.subsetOf(s2.files.toSet) &&
      s2.posDels.isEmpty && s2.dvs.nonEmpty,
      "vector style must shape MERGE's matched old images as bitmaps")
    assert(t.read().orderBy("k").as[(Long, String, Double)].collect()
      .toSeq == Seq((1L, "a", 1.0), (2L, "B", 200.0), (3L, "c", 3.0),
        (9L, "I", 9.0)))
    graft.lakehouse.LakeRegistry.unregister("dvdml_t")
  }

  test("deletion vectors compose with branch isolation and publish") {
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_dvbr").toString,
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
        .toDF("k", "tag", "v").repartition(1))
    t.createBranch("etl")
    // the vector DELETE lands ON the branch through the refs CAS
    val dev = t.onBranch("etl")
    dev.setProperties(Map("write.delete.mode" -> "merge-on-read",
      "write.delete.style" -> "vector"))
    dev.deleteMoRDv("k <= 2")
    assert(dev.currentSnapshot.dvs.nonEmpty)
    assert(dev.read().select("k").as[Long].collect().sameElements(Array(3L)),
      "the branch live view must apply its vectors")
    assert(t.read().count() == 3,
      "main readers must not see unpublished branch vectors")
    // publish: main fast-forwards onto the vectored head
    t.fastForward("main", "etl")
    assert(t.read().select("k").as[Long].collect().sameElements(Array(3L)),
      "published main must read through the branch's vectors")
    assert(t.currentSnapshot.dvs.nonEmpty)
  }

  test("deletion vectors ride the SPJ skip lists and its byte gate") {
    import graft.lakehouse.{LakeRegistry, Spj}
    // two inputs: vectors alone, and one data file carrying both shapes
    // (position tombstones first, then a vector delete of other rows
    // of the same files)
    for (withTombstones <- Seq(false, true)) {
      val name = if (withTombstones) "dvspj_both" else "dvspj_t"
      val t = GraftTable.create(spark,
        Files.createTempDirectory("graft_dvspj").toString,
        (1L to 1000L).map(k => (k, k % 7, if (k % 3 == 0) "del" else "keep"))
          .toDF("k", "g", "tag"),
        partitionBy = Seq("bucket[4](g)"))
      LakeRegistry.register(name, t)
      val files = t.currentSnapshot.files.toSet
      val before = t.currentSnapshot.id
      def style(st: String): Unit = t.setProperties(Map(
        "write.delete.mode" -> "merge-on-read", "write.delete.style" -> st))
      if (withTombstones) {
        style("position")
        spark.sql(s"DELETE FROM $name WHERE k % 5 = 0 AND tag = 'keep'")
      }
      style("vector")
      spark.sql(s"DELETE FROM $name WHERE tag = 'del'")
      val snap = t.currentSnapshot
      assert(snap.files.toSet == files && snap.dvs.nonEmpty &&
        snap.posDels.nonEmpty == withTombstones,
        "the deletes must write tombstones and bitmaps, not rewrite files")
      val expected = (1L to 1000L)
        .filter(k => k % 3 != 0 && !(withTombstones && k % 5 == 0))
      val live = Spj.read(spark, s"${name}_r", t)
      assert(live.count() == expected.size,
        "the SPJ read must skip tombstoned and vectored positions")
      assert(live.filter(col("tag") === "del").count() == 0)
      // the SPJ path, the normal read path and the expected keys agree
      assert(live.select("k").as[Long].collect().sorted.toSeq == expected)
      assert(t.read().select("k").as[Long].collect().sorted.toSeq == expected)
      // the change feed over the deletes reports exactly the deleted rows
      def changed() = spark.sql(
        s"SELECT k, _change_type FROM table_changes('$name', $before, ${snap.id})")
        .as[(Long, String)].collect()
      val deleted = (1L to 1000L).filterNot(expected.toSet)
      assert(changed().forall(_._2 == "delete"), changed().toSeq)
      assert(changed().map(_._1).sorted.toSeq == deleted)
      // beyond the delete-bitmap gate the zero-Exchange path refuses
      // toward maintenance instead of collecting unbounded deletes,
      // while the normal read and the change feed take the shuffled
      // fold and agree
      sys.props("graft.posdel.broadcast.bytes") = "1"
      try {
        val e = intercept[Exception](Spj.read(spark, s"${name}_gate", t))
        def msgs(x: Throwable): List[String] =
          if (x == null) Nil else String.valueOf(x.getMessage) :: msgs(x.getCause)
        assert(msgs(e).exists(_.contains("delete-bitmap gate")),
          msgs(e).mkString(" | "))
        assert(t.read().select("k").as[Long].collect().sorted.toSeq == expected)
        assert(changed().map(_._1).sorted.toSeq == deleted)
      } finally sys.props.remove("graft.posdel.broadcast.bytes")
    }
  }

  test("positional-delete gate sizes what the deletes name: a scattered " +
      "DELETE over many 1M-row files stays SPJ-eligible") {
    import graft.lakehouse.{LakeRegistry, Spj}
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_gate").toString,
      (1L to 400L).map(k => (k, k % 7)).toDF("k", "g"),
      partitionBy = Seq("bucket[4](g)"))
    LakeRegistry.register("posdel_gate_t", t)
    t.setProperties(Map("write.delete.mode" -> "merge-on-read",
      "write.delete.style" -> "position"))
    spark.sql("DELETE FROM posdel_gate_t WHERE k % 50 = 0")
    t.setProperties(Map("write.delete.mode" -> "merge-on-read",
      "write.delete.style" -> "vector"))
    spark.sql("DELETE FROM posdel_gate_t WHERE k % 50 = 1")
    val snap = t.currentSnapshot
    assert(snap.posDels.nonEmpty && snap.dvs.nonEmpty)
    assert(Spj.ineligibleReason(snap).isEmpty)
    // the same deletes recorded against 300 files of 1M rows each: 269
    // tombstoned rows and one deleted row per vectored file stay a few
    // KB, not a rows/8 bitmap for every file named
    val files = (0 until 300).map(i => s"file:/lake/data/part-$i.parquet")
    def shaped(tombRows: Long) = snap.copy(
      files = snap.files ++ files,
      fileRows = (snap.files ++ files).map(_ -> 1000000L).toMap,
      posDelRows = snap.posDels.map(_ -> tombRows).toMap,
      dvs = files.map(_ -> snap.dvs.values.head).toMap,
      dvCards = files.map(_ -> 1L).toMap)
    assert(Spj.ineligibleReason(shaped(269L)).isEmpty)
    // the gate still bounds: 5M tombstoned rows exceed its 32 MB
    assert(Spj.ineligibleReason(shaped(5000000L))
      .exists(_.contains("delete-bitmap gate")))
  }

  test("positional-delete reads compile: no interpreted fallback, " +
      "same rows") {
    import org.apache.spark.sql.{DataFrame, SparkSession}
    // each session runs the scenario over its own tables: a tombstoned
    // read, a vectored read, a merge-on-read UPDATE and the change feed
    def run(s: SparkSession): Seq[Seq[String]] = {
      SparkSession.setActiveSession(s)
      try {
        def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
        def table(style: String) = {
          val t = GraftTable.create(s,
            Files.createTempDirectory("graft_cgdel").toString,
            s.createDataFrame((1L to 200L).map(k =>
              (k, if (k % 3 == 0) "del" else "keep", k.toDouble)))
              .toDF("k", "tag", "v"))
          t.setProperties(Map("write.delete.mode" -> "merge-on-read",
            "write.update.mode" -> "merge-on-read",
            "write.delete.style" -> style))
          t
        }
        val pos = table("position")
        val start = pos.currentSnapshot.id
        pos.deleteMoRPos("tag = 'del'")
        val vec = table("vector")
        vec.deleteMoRDv("tag = 'del'")
        val tombstoned = rows(pos.read())
        val vectored = rows(vec.read())
        pos.updateMoRPos(Map("v" -> "v + 1"), "k < 50")
        assert(pos.currentSnapshot.posDels.size == 2)
        Seq(tombstoned, vectored, rows(pos.read()),
          rows(pos.changes(start, pos.currentSnapshot.id)
            .select("k", "tag", "v", "_change_type")))
      } finally SparkSession.setActiveSession(spark)
    }
    // a child session scopes the strict mode to this test: suites
    // sharing `spark` keep their codegen fallback
    val strict = spark.newSession()
    strict.conf.set(
      org.apache.spark.sql.internal.SQLConf.CODEGEN_FACTORY_MODE.key, "CODEGEN_ONLY")
    val compiled = run(strict)
    assert(compiled.forall(_.nonEmpty))
    assert(compiled == run(spark))
  }

  test("namespace-qualified SQL: DDL/DML/maintenance/time-travel on " +
      "db.t, qualified column refs, governed names still win") {
    import graft.lakehouse.{LakeRegistry, ViewRegistry}
    LakeRegistry.unregister("nsdb.evt")
    spark.sql(
      s"""CREATE TABLE nsdb.evt (k BIGINT, tag STRING, v DOUBLE)
         |USING graft
         |LOCATION '${Files.createTempDirectory("graft_ns").toString}'"""
        .stripMargin)
    Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("k", "tag", "v").createOrReplaceTempView("ns_src")
    spark.sql("INSERT INTO nsdb.evt SELECT * FROM ns_src")
    // fully-qualified (db.t.c) and bare-table (evt.c / t-alias)
    // column references all strip against the dotted target
    spark.sql("UPDATE nsdb.evt SET v = v * 10 WHERE nsdb.evt.k = 2")
    spark.sql("DELETE FROM nsdb.evt WHERE evt.k = 3")
    spark.sql(
      """MERGE INTO nsdb.evt t USING ns_src s ON t.k = s.k
        |WHEN MATCHED AND t.k = 1 THEN UPDATE SET tag = 'merged'
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.sql("SELECT k, tag, v FROM nsdb.evt ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, "merged", 1.0), (2L, "b", 20.0),
      (3L, "c", 3.0)))
    // maintenance + ref DDL + time travel through the dotted name
    spark.sql("ALTER TABLE nsdb.evt CREATE TAG stable")
    spark.sql("UPDATE nsdb.evt SET tag = 'later' WHERE k = 1")
    spark.sql("OPTIMIZE nsdb.evt")
    assert(spark.sql("SELECT tag FROM nsdb.evt VERSION AS OF 'stable' " +
        "WHERE k = 1").head.getString(0) == "merged")
    // ALTER evolves through the dotted claim; DESCRIBE-free check
    spark.sql("ALTER TABLE nsdb.evt ADD COLUMNS (note STRING)")
    assert(spark.sql("SELECT note FROM nsdb.evt").count() == 3)
    // a governed name ALWAYS outranks a same-named lake registration
    // (LakeSqlRule skips visible names, so FgacRule owns the read)
    import graft.fgac.{Principal, SecureCatalog, TablePolicy}
    val raw = Seq((1L, "TX"), (2L, "CA")).toDF("id", "state")
    SecureCatalog.governTable("nsg.pat", raw)
    SecureCatalog.register(Principal("ns_t1", grants = Map(
      "nsg.pat" -> TablePolicy("nsg.pat",
        rowFilter = Some("state = 'TX'")))))
    val shadow = GraftTable.create(spark,
      Files.createTempDirectory("graft_ns_shadow").toString, raw)
    LakeRegistry.register("nsg.pat", shadow)
    try {
      spark.conf.set(SecureCatalog.PrincipalConf, "ns_t1")
      assert(spark.sql("SELECT id FROM nsg.pat").collect()
        .map(_.getLong(0)).toSeq == Seq(1L),
        "the governed policy must filter even with a lake shadow")
    } finally {
      spark.conf.unset(SecureCatalog.PrincipalConf)
      SecureCatalog.ungovern("nsg.pat")
      LakeRegistry.unregister("nsg.pat")
    }
    // DROP releases the dotted name
    spark.sql("DROP TABLE nsdb.evt")
    assert(LakeRegistry.get("nsdb.evt").isEmpty &&
      ViewRegistry.get("nsdb.evt").isEmpty)
  }

  test("ALTER TABLE … RENAME TO: re-key + refusal matrix") {
    import graft.lakehouse.{LakeRegistry, ViewRegistry}
    import graft.fgac.{Principal, SecureCatalog, TablePolicy}
    Seq("rn_a", "rn_b", "rndb.rn_c", "rn_taken", "rn_gov")
      .foreach(LakeRegistry.unregister)
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    t.append(Seq((3L, "c", 3.0)).toDF("k", "tag", "v"))
    LakeRegistry.register("rn_a", t)
    // happy path: history and time travel survive, old name is cold
    spark.sql("ALTER TABLE rn_a RENAME TO rndb.rn_c")
    assert(LakeRegistry.get("rn_a").isEmpty)
    assert(spark.sql("SELECT count(*) FROM rndb.rn_c").head.getLong(0) == 3)
    assert(spark.sql(
      "SELECT count(*) FROM rndb.rn_c VERSION AS OF 1").head.getLong(0) == 2)
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT * FROM rn_a").collect())
    assert(spark.sql("SHOW CREATE TABLE rndb.rn_c").head.getString(0)
      .contains("CREATE TABLE rndb.rn_c"))
    // an existing target refuses
    val taken = freshTable(Seq((9L, "x", 9.0)))
    LakeRegistry.register("rn_taken", taken)
    val e1 = intercept[IllegalArgumentException](
      spark.sql("ALTER TABLE rndb.rn_c RENAME TO rn_taken"))
    assert(e1.getMessage.contains("already exists"))
    // a governed TARGET refuses (renaming onto a policy would shadow it)
    val rawGov = Seq((1L, "TX")).toDF("id", "state")
    SecureCatalog.governTable("rn_gov", rawGov)
    val e2 = intercept[IllegalArgumentException](
      spark.sql("ALTER TABLE rndb.rn_c RENAME TO rn_gov"))
    assert(e2.getMessage.contains("governed"))
    // a governed SOURCE refuses loudly (never a cold miss)
    val e3 = intercept[UnsupportedOperationException](
      spark.sql("ALTER TABLE rn_gov RENAME TO rn_elsewhere"))
    assert(e3.getMessage.contains("governed"))
    SecureCatalog.ungovern("rn_gov")
    // a view refuses crisply
    spark.sql("CREATE OR REPLACE VIEW rn_view AS SELECT 1 AS one")
    val e4 = intercept[UnsupportedOperationException](
      spark.sql("ALTER TABLE rn_view RENAME TO rn_view2"))
    assert(e4.getMessage.contains("view"))
    spark.sql("DROP VIEW rn_view")
    // a PATH-managed table (no explicit LOCATION — storage root
    // derived from the name) refuses: the old root would re-probe
    // onto the renamed storage (the HadoopCatalog refusal)
    LakeRegistry.unregister("rn_managed")
    spark.sql("CREATE TABLE rn_managed (k BIGINT) USING graft")
    spark.sql("INSERT INTO rn_managed VALUES (1)")
    val eM = intercept[IllegalArgumentException](
      spark.sql("ALTER TABLE rn_managed RENAME TO rn_managed2"))
    assert(eM.getMessage.contains("explicit LOCATION"))
    spark.sql("DROP TABLE rn_managed PURGE")
    // rename is a WRITE: a read-only principal may not re-key
    SecureCatalog.governTable("rndb.rn_c", Seq("k", "tag", "v"))
    SecureCatalog.register(Principal("rn_reader", grants = Map(
      "rndb.rn_c" -> TablePolicy("rndb.rn_c"))))
    try {
      spark.conf.set(SecureCatalog.PrincipalConf, "rn_reader")
      // governed-source refusal outranks even the write check
      intercept[UnsupportedOperationException](
        spark.sql("ALTER TABLE rndb.rn_c RENAME TO rn_z"))
    } finally {
      spark.conf.unset(SecureCatalog.PrincipalConf)
      SecureCatalog.ungovern("rndb.rn_c")
    }
    spark.sql("DROP TABLE rndb.rn_c")
    LakeRegistry.unregister("rn_taken")
  }

  test("leading SQL comments: the parser-level claims still resolve") {
    import graft.lakehouse.LakeRegistry
    LakeRegistry.unregister("cmt_t")
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    LakeRegistry.register("cmt_t", t)
    // line comment before DESCRIBE (the ported-script shape)
    val desc = spark.sql("-- maintenance header\nDESCRIBE TABLE cmt_t")
      .collect()
    assert(desc.exists(r => r.getString(0) == "k" &&
      r.getString(1) == "bigint"))
    // block comment (nested, like Spark's lexer) before CALL
    spark.sql("/* outer /* inner */ still comment */ " +
      "CALL graft.system.rewrite_manifests(table => 'cmt_t')")
    // comment + whitespace before OPTIMIZE
    spark.sql("  /* compact */\n  -- then\nOPTIMIZE cmt_t")
    // an unterminated block comment still errors through the delegate
    intercept[Exception](spark.sql("/* open DESCRIBE TABLE cmt_t"))
    // plain statements are untouched (claim precedence unchanged)
    assert(spark.sql("-- c\nSELECT count(*) FROM cmt_t").head.getLong(0) == 2)
    LakeRegistry.unregister("cmt_t")
  }

  test("CALL argument rigor: missing args name the argument; sort " +
      "strategy uses the table write order or refuses") {
    import graft.lakehouse.LakeRegistry
    LakeRegistry.unregister("callr_t")
    val t = freshTable(Seq((3L, "c", 3.0), (1L, "a", 1.0)))
    t.append(Seq((2L, "b", 2.0)).toDF("k", "tag", "v"))
    LakeRegistry.register("callr_t", t)
    val e1 = intercept[IllegalArgumentException](spark.sql(
      "CALL graft.system.expire_snapshots(retain_last => 2)"))
    assert(e1.getMessage.contains("missing required argument 'table'"))
    val e2 = intercept[IllegalArgumentException](spark.sql(
      "CALL graft.system.rollback_to_snapshot(table => 'callr_t')"))
    assert(e2.getMessage.contains("snapshot_id"))
    // strategy=>'sort' with NO sort_order and NO write order refuses
    val e3 = intercept[IllegalArgumentException](spark.sql(
      "CALL graft.system.rewrite_data_files(table => 'callr_t', " +
        "strategy => 'sort')"))
    assert(e3.getMessage.contains("WRITE ORDERED BY"))
    // …but with a declared write order it sorts by it (the rewrite
    // commits and the data survives byte-identical)
    spark.sql("ALTER TABLE callr_t WRITE ORDERED BY (k)")
    val beforeId = t.currentSnapshotId
    spark.sql("CALL graft.system.rewrite_data_files(" +
      "table => 'callr_t', strategy => 'sort')")
    assert(t.currentSnapshotId > beforeId, "the sort rewrite must commit")
    assert(spark.sql("SELECT k FROM callr_t ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // where + sort_order refuses rather than silently ignoring one
    val e4 = intercept[IllegalArgumentException](spark.sql(
      "CALL graft.system.rewrite_data_files(table => 'callr_t', " +
        "strategy => 'sort', where => 'k > 0')"))
    assert(e4.getMessage.contains("binpack"))
    LakeRegistry.unregister("callr_t")
  }

  test("schema tracking: changelog + stream batches align across " +
      "RENAME COLUMN and type promotion; DROP and mid-stream refuse") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    def intDf(rows: Seq[(Int, String)]) =
      rows.toDF("k", "tag").withColumn("k", col("k").cast("int"))
    val dir = Files.createTempDirectory("graft_evo").toString
    val t = GraftTable.create(spark, dir, intDf(Seq((1, "a"), (2, "b"))))
    t.append(intDf(Seq((3, "c"))))                          // snap 2
    t.renameColumn("k", "key")                              // snap 3
    t.alterColumnType("key", LongType)                      // snap 4
    t.addColumns(Seq(StructField("note", StringType, nullable = true)))
    t.append(Seq((4L, "d", "n")).toDF("key", "tag", "note")) // snap 6
    // the batch changelog spans the whole evolution: the from side
    // aligns forward through the rename log + safe up-cast
    val chg = t.changes(1, 6)
    assert(chg.schema("key").dataType == LongType)
    val ins = chg.filter(col("_change_type") === "insert")
    assert(ins.select("key").collect().map(_.getLong(0)).sorted
      .sameElements(Array(3L, 4L)))
    assert(chg.filter(col("_change_type") === "delete").count() == 0)
    // a RESTARTED stream's pending pre-evolution range delivers at
    // the declared (post-evolution) schema — unit-level via the
    // source's own batch builder
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val post = new graft.streaming.GraftLakeSource(spark, dir, 10)
    val b = post.getBatch(Some(LongOffset(1L)), LongOffset(2L))
    assert(b.schema.fieldNames.toSeq == Seq("key", "tag", "note") &&
      b.schema("key").dataType == LongType,
      s"pre-evolution batch must align to the evolved schema: ${b.schema}")
    // MID-STREAM evolution (source pinned BEFORE it) still refuses
    // with the restart message — never a silently renamed batch
    val dir2 = Files.createTempDirectory("graft_evo2").toString
    val t2 = GraftTable.create(spark, dir2, intDf(Seq((1, "a"))))
    val mid = new graft.streaming.GraftLakeSource(spark, dir2, 10)
    t2.renameColumn("k", "key")
    t2.append(Seq(2).toDF("key")
      .withColumn("key", col("key").cast("int"))
      .withColumn("tag", lit("b")).select("key", "tag"))
    val e = intercept[IllegalArgumentException](
      mid.getBatch(Some(LongOffset(1L)), LongOffset(3L)))
    assert(e.getMessage.contains("restart"))
    // DROP has no sound alignment when the FROM side carries the
    // column: the changelog refuses. (A from-side that PREDATES the
    // add maps cleanly — the drop never concerns it.)
    t.dropColumn("note")                                    // snap 7
    val e2 = intercept[IllegalArgumentException](t.changes(6, 7))
    assert(e2.getMessage.contains("schema evolution"))
    assert(t.changes(1, 7).filter(col("_change_type") === "insert")
      .count() == 2,
      "a from-side predating the dropped column's add still aligns")
  }

  test("append-mode stream restarted after DROP COLUMN drains its " +
      "pre-drop backlog (column projected away); a running stream " +
      "refuses rather than null-backfill") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val dir = Files.createTempDirectory("graft_dropstr").toString
    val t = GraftTable.create(spark, dir,
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "tag", "v")) // 1
    t.append(Seq((3L, "c", 3.0)).toDF("k", "tag", "v"))        // snap 2
    t.dropColumn("tag")                                        // snap 3
    t.append(Seq((4L, 4.0)).toDF("k", "v"))                    // snap 4
    // unit-level: a RESTARTED source (declared schema postdates the
    // drop) aligns a PRE-DROP range by projecting the dropped column
    // away — exactly what a to-reader does for old files
    val post = new graft.streaming.GraftLakeSource(spark, dir, 10)
    val b = post.getBatch(Some(LongOffset(1L)), LongOffset(2L))
    assert(b.schema.fieldNames.toSeq == Seq("k", "v"), s"${b.schema}")
    // a range STRADDLING the drop aligns too (values are verified by
    // the checkpointed end-to-end drain below — a unit-level getBatch
    // frame is streaming-tagged and cannot be collected directly)
    val b2 = post.getBatch(Some(LongOffset(1L)), LongOffset(4L))
    assert(b2.schema.fieldNames.toSeq == Seq("k", "v"), s"${b2.schema}")
    // a RUNNING stream (pinned BEFORE the drop) refuses with the
    // restart message — its pinned retire log cannot know the drop,
    // and a silent null backfill would deliver wrong rows where the
    // column had real values
    val dir2 = Files.createTempDirectory("graft_dropstr2").toString
    val t2 = GraftTable.create(spark, dir2,
      Seq((1L, "a", 1.0)).toDF("k", "tag", "v"))               // snap 1
    val mid = new graft.streaming.GraftLakeSource(spark, dir2, 10)
    t2.dropColumn("tag")                                       // snap 2
    t2.append(Seq((9L, 9.0)).toDF("k", "v"))                   // snap 3
    val e = intercept[IllegalArgumentException](
      mid.getBatch(Some(LongOffset(1L)), LongOffset(3L)))
    assert(e.getMessage.contains("restart"), e.getMessage)
    // checkpointed end-to-end: drain, then append + DROP + append,
    // then a restart-drain through the whole backlog — the forever
    // wedge this round removes
    val dir3 = Files.createTempDirectory("graft_dropstr3").toString
    val t3 = GraftTable.create(spark, dir3,
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "tag", "v"))
    val ck = Files.createTempDirectory("graft_dropstr_ck").toString
    val out = Files.createTempDirectory("graft_dropstr_out").toString
    def drain(): Unit = {
      val q = spark.readStream.format("graft-lake")
        .option("maxCommitsPerTrigger", 1).load(dir3)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()                                     // rows 1, 2 delivered
    t3.append(Seq((3L, "c", 3.0)).toDF("k", "tag", "v"))       // snap 2
    t3.dropColumn("tag")                                       // snap 3
    t3.append(Seq((4L, 4.0)).toDF("k", "v"))                   // snap 4
    drain()     // restart: the pre-drop backlog projects away and drains
    val got = spark.read.option("mergeSchema", "true").parquet(out)
    assert(got.select("k").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L),
      "the restarted checkpointed stream must drain the pre-drop " +
        "backlog and the post-drop commits")
  }

  test("equality-delete change feed: batch + streaming CDC drain " +
      "through an equality DELETE; predicates scope by add-sequence; " +
      "mixed-style ranges refuse") {
    import org.apache.spark.sql.streaming.Trigger
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0),
      (3L, "b", 3.0)))                                       // snap 1
    t.setProperties(Map(
      "write.delete.mode" -> "merge-on-read",
      "write.delete.style" -> "equality"))
    t.append(Seq((4L, "b", 4.0), (5L, "a", 5.0)).toDF("k", "tag", "v")) // 2
    t.deleteMoR("tag = 'b'")                                 // snap 3
    assert(t.currentSnapshot.dels.nonEmpty &&
      t.currentSnapshot.files == t.snapshot(2).files)
    t.append(Seq((6L, "b", 6.0)).toDF("k", "tag", "v"))      // snap 4
    // the per-commit range through the predicate: exactly the scoped
    // 'b' rows, as deletes
    val d = t.changes(2, 3)
    assert(d.filter(col("_change_type") =!= "delete").count() == 0)
    assert(d.select("k").collect().map(_.getLong(0)).sorted
      .sameElements(Array(2L, 3L, 4L)))
    // scoping: the post-predicate 'b' row INSERTS (out of scope) —
    // and the live read agrees
    val i = t.changes(3, 4)
    assert(i.filter(col("_change_type") =!= "insert").count() == 0 &&
      i.select("k").head.getLong(0) == 6L)
    assert(t.read().select("k").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 5L, 6L)))
    // a rollback REMOVING the predicate restores its rows as inserts
    t.rollback(2)                                            // snap 5
    val restored = t.changes(3, 5)
    assert(restored.filter(col("_change_type") === "insert")
      .select("k").collect().map(_.getLong(0)).sorted
      .sameElements(Array(2L, 3L, 4L)),
      "removing the predicate must restore its rows")
    // streaming CDC drains THROUGH the equality DELETE commit —
    // the r16 wedge: per-commit batches over a fresh stream
    val qn = "eqdel_feed_" +
      java.util.UUID.randomUUID.toString.replace("-", "").take(12)
    val q = spark.readStream.format("graft-lake")
      .option("readChangeFeed", "true")
      .option("maxCommitsPerTrigger", 1).load(t.location)
      .writeStream.format("memory").queryName(qn)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val feed = spark.table(qn)
      .select("k", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // net across the whole drained history (incl. the rollback) =
    // every row inserted once more than deleted iff live at head
    val net = feed.groupBy(_._1).map { case (k, evs) =>
      k -> (evs.count(_._2 == "insert") - evs.count(_._2 == "delete"))
    }
    assert(net.filter(_._2 > 0).keys.toSeq.sorted ==
      t.read().select("k").collect().map(_.getLong(0)).sorted.toSeq,
      s"the drained feed must replay to the live state: ${feed.toSeq}")
    // a range MIXING an eq-predicate diff with a tombstone diff
    // composes by multiset dedupe: the predicate (tag='a') ALSO
    // matches the tombstoned row 5 — one delete image, never two
    t.setProperties(t.properties + ("write.delete.style" -> "position"))
    t.deleteMoRPos("k = 5")                                  // snap 6
    t.setProperties(t.properties + ("write.delete.style" -> "equality"))
    t.deleteMoR("tag = 'a'")                                 // snap 7
    val mixed = t.changes(5, 7)
    assert(mixed.filter(col("_change_type") =!= "delete").count() == 0 &&
      mixed.select("k").collect().map(_.getLong(0)).sorted
        .sameElements(Array(1L, 5L)),
      s"a mixed eq+tombstone range must emit each dead row ONCE")
    // …and the per-commit sub-ranges agree: (5,6] the tombstone on
    // row 5, (6,7] the predicate's OTHER victim only (5 was already
    // dead at the from endpoint)
    assert(t.changes(5, 6).count() == 1 &&
      t.changes(6, 7).select("k").head.getLong(0) == 1L)
    // a single ROLLBACK reverting across BOTH delete styles composes
    // the same way on the restore side (the r17 review's unsplittable
    // one-commit range): each restored row inserts exactly once
    t.rollback(5)                                            // snap 8
    val restored2 = t.changes(7, 8)
    assert(restored2.filter(col("_change_type") =!= "insert").count() == 0 &&
      restored2.select("k").collect().map(_.getLong(0)).sorted
        .sameElements(Array(1L, 5L)),
      "a rollback across both delete styles restores each row once")
    // a CDC stream over the full mixed history (eq deletes,
    // tombstones, rollbacks) drains and replays to the live state —
    // maxCommitsPerTrigger=2 makes the batches land MID-history
    // ranges like (4,6] (rollback + tombstone: a predicate diff and
    // a tombstone diff in one batch), so the composed mixed path is
    // exercised by the stream, not just the batch API
    val qn2 = "eqdel_mixed_" +
      java.util.UUID.randomUUID.toString.replace("-", "").take(12)
    val q2 = spark.readStream.format("graft-lake")
      .option("readChangeFeed", "true")
      .option("maxCommitsPerTrigger", 2).load(t.location)
      .writeStream.format("memory").queryName(qn2)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val net2 = spark.table(qn2).select("k", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (k, evs) =>
        k -> (evs.count(_._2 == "insert") - evs.count(_._2 == "delete"))
      }
    assert(net2.filter(_._2 > 0).keys.toSeq.sorted ==
      t.read().select("k").collect().map(_.getLong(0)).sorted.toSeq,
      "the default-admission stream must drain the mixed history")
  }

  test("equality-delete feed × schema evolution: in-range ADD COLUMN " +
      "aligns before the predicate; in-range RENAME refuses") {
    import org.apache.spark.sql.types.{StringType, StructField}
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))   // snap 1
    t.setProperties(Map(
      "write.delete.mode" -> "merge-on-read",
      "write.delete.style" -> "equality"))
    t.addColumns(Seq(StructField("note", StringType)))        // snap 2
    t.append(Seq((3L, "c", 3.0, "n3")).toDF("k", "tag", "v", "note")) // 3
    // predicate on the ADDED column: pre-add rows surface NULL, so
    // `note IS NULL` kills exactly them — and the changelog range
    // spanning the add must agree
    t.deleteMoR("note IS NULL")                               // snap 4
    assert(t.read().select("k").collect().map(_.getLong(0)).toSeq ==
      Seq(3L))
    val d = t.changes(1, 4)
    assert(d.filter(col("_change_type") === "delete")
      .select("k").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L)),
      "the aligned pre-add rows must match the predicate")
    assert(d.filter(col("_change_type") === "insert")
      .select("k").head.getLong(0) == 3L)
    // an in-range RENAME followed by a predicate (the only legal
    // order — renameColumn refuses while predicates are pending)
    // COMPOSES: the predicate's text already binds the post-rename
    // names, and the frames align to the `to` schema
    val t2 = freshTable(Seq((1L, "a", 1.0)))                  // snap 1
    t2.setProperties(Map(
      "write.delete.mode" -> "merge-on-read",
      "write.delete.style" -> "equality"))
    t2.append(Seq((2L, "b", 2.0)).toDF("k", "tag", "v"))      // snap 2
    t2.renameColumn("tag", "label")                           // snap 3
    t2.deleteMoR("label = 'b'")                               // snap 4
    val spanned = t2.changes(2, 4)
    assert(spanned.columns.contains("label") &&
      spanned.filter(col("_change_type") === "delete")
        .select("k").head.getLong(0) == 2L,
      "a rename+predicate range delivers under the post-rename name")
    assert(t2.changes(2, 3).isEmpty)
    assert(t2.changes(3, 4).select("k").head.getLong(0) == 2L)
  }

  test("equality-delete feed: cross-direction rollbacks emit no " +
      "phantom rows (a row dead at both endpoints nets to nothing)") {
    // tombstone → rollback → predicate: the row's death flips style
    // across the range; the restored-tombstone side must not emit an
    // insert for a row the predicate re-killed
    val t = freshTable(Seq((1L, "a", 1.0), (5L, "b", 5.0)))   // snap 1
    t.setProperties(Map(
      "write.delete.mode" -> "merge-on-read",
      "write.delete.style" -> "position"))
    t.deleteMoRPos("k = 5")                                   // snap 2
    t.rollback(1)                                             // snap 3
    t.setProperties(t.properties + ("write.delete.style" -> "equality"))
    t.deleteMoR("k = 5")                                      // snap 4
    assert(t.read().select("k").collect().map(_.getLong(0)).toSeq ==
      Seq(1L))
    val f1 = t.changes(2, 4)
    assert(f1.count() == 0,
      s"dead at both endpoints must net to NOTHING: " +
        s"${f1.collect().toSeq}")
    // predicate → rollback → tombstone: the mirror image; the newly
    // tombstoned row was never alive at `from`, so no delete image
    val t2 = freshTable(Seq((1L, "a", 1.0), (5L, "b", 5.0)))  // snap 1
    t2.setProperties(Map(
      "write.delete.mode" -> "merge-on-read",
      "write.delete.style" -> "equality"))
    t2.deleteMoR("k = 5")                                     // snap 2
    t2.rollback(1)                                            // snap 3
    t2.setProperties(t2.properties +
      ("write.delete.style" -> "position"))
    t2.deleteMoRPos("k = 5")                                  // snap 4
    val f2 = t2.changes(2, 4)
    assert(f2.count() == 0,
      s"the mirror case must also net to nothing: " +
        s"${f2.collect().toSeq}")
    // sanity: the same ranges against a LIVE endpoint still emit
    assert(t2.changes(3, 4).filter(col("_change_type") === "delete")
      .select("k").head.getLong(0) == 5L)
  }

  test("streaming from and into a BRANCH: option(branch) pins the " +
      "source to the branch lineage and routes the sink commits " +
      "through the branch head; main stays isolated") {
    import org.apache.spark.sql.streaming.Trigger
    val t = freshTable(Seq((1L, "a", 1.0)))                  // snap 1
    t.createBranch("etl")
    t.onBranch("etl").append(
      Seq((2L, "b", 2.0)).toDF("k", "tag", "v"))             // snap 2 (etl)
    t.append(Seq((9L, "z", 9.0)).toDF("k", "tag", "v"))      // snap 3 (main)
    def drain(opts: Map[String, String]): Set[Long] = {
      val qn = "brstream_" +
        java.util.UUID.randomUUID.toString.replace("-", "").take(12)
      var r = spark.readStream.format("graft-lake")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load(t.location)
        .writeStream.format("memory").queryName(qn)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(qn).select("k").as[Long].collect().toSet
    }
    // the branch source follows the BRANCH lineage — snap 3 (a
    // main-only commit sharing the id sequence) never appears
    assert(drain(Map("branch" -> "etl")) == Set(1L, 2L),
      "the branch stream must deliver exactly the branch lineage")
    assert(drain(Map.empty) == Set(1L, 9L),
      "the default stream must deliver exactly the main lineage")
    // sink side: a lake-to-lake stream lands on the branch; main
    // unchanged until fast-forward
    val src = freshTable(Seq((10L, "s", 10.0)))
    val q = spark.readStream.format("graft-lake").load(src.location)
      .writeStream.format("graft-lake")
      .option("branch", "etl")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_brsink_ck").toString)
      .trigger(Trigger.AvailableNow()).start(t.location)
    q.awaitTermination()
    assert(t.readRef("etl").select("k").as[Long].collect().toSet ==
        Set(1L, 2L, 10L) &&
      t.read().select("k").as[Long].collect().toSet == Set(1L, 9L),
      "the branch sink must commit to the branch only")
    // a tag or missing ref refuses at .load(), before any stream
    t.createTag("pin")
    for (bad <- Seq("pin", "ghost")) {
      val e = intercept[IllegalArgumentException](
        spark.readStream.format("graft-lake")
          .option("branch", bad).load(t.location))
      assert(e.getMessage.contains("is not a branch"), bad)
    }
  }

  test("maxFilesPerTrigger: batches admit by ADDED-file budget, an " +
      "oversized commit still admits alone, delivery is lossless") {
    import org.apache.spark.sql.streaming.Trigger
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_mft").toString,
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "tag", "v")
        .repartition(2))                                     // 2 files
    t.append(Seq((3L, "c", 3.0), (4L, "d", 4.0)).toDF("k", "tag", "v")
      .repartition(2))                                       // 2 files
    t.append(Seq((5L, "e", 5.0), (6L, "f", 6.0), (7L, "g", 7.0),
        (8L, "h", 8.0)).toDF("k", "tag", "v")
      .repartition(4))                                       // 4 files
    def drain(opts: Map[String, String]): (Long, Int) = {
      val qn = "mft_" +
        java.util.UUID.randomUUID.toString.replace("-", "").take(12)
      var r = spark.readStream.format("graft-lake")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load(t.location)
        .writeStream.format("memory").queryName(qn)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      (spark.table(qn).count(),
        q.recentProgress.count(_.numInputRows > 0))
    }
    // budget 2: commits admit one at a time (2, 2, 4 files) — the
    // 4-file commit EXCEEDS the budget but still admits alone
    val (rows2, batches2) = drain(Map("maxFilesPerTrigger" -> "2"))
    assert(rows2 == 8 && batches2 == 3,
      s"budget 2 must deliver all rows in 3 single-commit batches: " +
        s"$rows2 rows / $batches2 batches")
    // budget 4: commits 1+2 coalesce (4 files), commit 3 alone
    val (rows4, batches4) = drain(Map("maxFilesPerTrigger" -> "4"))
    assert(rows4 == 8 && batches4 == 2,
      s"budget 4 must coalesce the first two commits: " +
        s"$rows4 rows / $batches4 batches")
    // a huge budget = one batch; both limits compose (tighter wins)
    val (rowsAll, batchesAll) = drain(Map("maxFilesPerTrigger" -> "100"))
    assert(rowsAll == 8 && batchesAll == 1)
    val (rowsBoth, batchesBoth) = drain(Map(
      "maxFilesPerTrigger" -> "100", "maxCommitsPerTrigger" -> "1"))
    assert(rowsBoth == 8 && batchesBoth == 3,
      s"maxCommitsPerTrigger must still bound: $batchesBoth")
    // byte budget: 1 byte/trigger degenerates to one commit per
    // batch (every commit exceeds it → admits alone)
    val (rowsB, batchesB) = drain(Map("maxBytesPerTrigger" -> "1"))
    assert(rowsB == 8 && batchesB == 3,
      s"a 1-byte budget must admit one commit per batch: $batchesB")
    // and a huge byte budget coalesces everything
    val (rowsBig, batchesBig) =
      drain(Map("maxBytesPerTrigger" -> "1000000000"))
    assert(rowsBig == 8 && batchesBig == 1)
    // a non-positive budget refuses at .load(), before any stream
    for (k <- Seq("maxFilesPerTrigger", "maxBytesPerTrigger")) {
      val e = intercept[IllegalArgumentException](
        spark.readStream.format("graft-lake")
          .option(k, "0").load(t.location))
      assert(e.getMessage.contains("must be positive"), k)
    }
  }

  test("ref-addressed DML: an explicit branch suffix OVERRIDES the " +
      "session wap branch (the more specific spelling wins)") {
    import graft.lakehouse.{GraftTable, LakeRegistry}
    val t = freshTable(Seq((1L, "a", 1.0)))
    LakeRegistry.unregister("refwap_t")
    LakeRegistry.register("refwap_t", t)
    t.createBranch("etl")
    t.createBranch("other")
    spark.conf.set(GraftTable.WapBranchConf, "other")
    try {
      spark.sql("INSERT INTO refwap_t.branch_etl VALUES (2, 'b', 2.0)")
      assert(t.readRef("etl").count() == 2 &&
          t.readRef("other").count() == 1 && t.read().count() == 1,
        "the explicit suffix must win over the session wap branch")
      // an UNSUFFIXED write still routes to the session wap branch
      spark.sql("INSERT INTO refwap_t VALUES (3, 'c', 3.0)")
      assert(t.readRef("other").count() == 2 && t.read().count() == 1)
    } finally {
      spark.conf.unset(GraftTable.WapBranchConf)
      LakeRegistry.unregister("refwap_t")
    }
  }

  test("ref-addressed MERGE: MERGE INTO db.t.branch_b lands on the " +
      "branch through the same clause engine; main stays isolated " +
      "until fast-forward") {
    import graft.lakehouse.LakeRegistry
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    LakeRegistry.unregister("refmerge.t")
    LakeRegistry.register("refmerge.t", t)
    // a BARE db-qualified `db.t.branch_x` is a 3-part name under
    // spark_catalog — the analyzer errors its namespace before any
    // rule runs (the standard claim-layer seam), so db-qualified
    // branch DML addresses through the graft catalog plugin exactly
    // like every other 3-part lake name
    LakeRegistry.ensureCatalog(spark)
    t.createBranch("etl")
    Seq((2L, "B", 20.0), (3L, "c", 3.0)).toDF("k", "tag", "v")
      .createOrReplaceTempView("refmerge_src")
    spark.sql(
      """MERGE INTO graft.refmerge.t.branch_etl tgt USING refmerge_src s
        |ON tgt.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(t.read().count() == 2 &&
        t.read().filter(col("v") === 20.0).count() == 0,
      "main must not see the branch-addressed MERGE")
    val branchRows = t.readRef("etl").select("k", "v")
      .as[(Long, Double)].collect().toMap
    assert(branchRows == Map(1L -> 1.0, 2L -> 20.0, 3L -> 3.0),
      s"the branch must carry the merged state: $branchRows")
    t.fastForward("main", "etl")
    assert(t.read().count() == 3, "fast-forward publishes the merge")
    LakeRegistry.unregister("refmerge.t")
  }

  test("all_entries expands executor-side: the multi-snapshot frame " +
      "is a distributed scan (no driver LocalRelation), row-identical " +
      "to the per-snapshot manifest entries") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))   // snap 1
    t.append(Seq((3L, "c", 3.0)).toDF("k", "tag", "v"))       // snap 2
    t.append(Seq((4L, "d", 4.0)).toDF("k", "tag", "v"))       // snap 3
    val ae = t.allEntriesMetadata
    // the O(snapshots × files) cross product must NOT be a
    // driver-built local relation — the expansion belongs on
    // executors (the whole point of the distributed build)
    val leaves = ae.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.nonEmpty && leaves.forall(l =>
        !l.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      s"all_entries must not materialize on the driver: $leaves")
    // row-exactness vs the driver-parsed snapshots: same
    // (snapshot, status, file) triples, same stats
    val got = ae.collect().map(r => (r.getLong(0), r.getString(1),
      r.getString(3), r.get(4), r.get(5))).toSet
    val want = t.snapshots.flatMap { sn =>
      sn.files.map { f =>
        val seq = sn.fileSeq.get(f)
        (sn.id,
          seq.map(s => if (s == sn.id) "ADDED" else "EXISTING")
            .getOrElse("UNKNOWN"), f,
          sn.fileRows.get(f).map(java.lang.Long.valueOf).orNull,
          sn.fileSizes.get(f).map(java.lang.Long.valueOf).orNull)
      }
    }.toSet
    assert(got == want, s"distributed all_entries diverged:\n$got\nvs\n$want")
    // snapshot 3 carries EXACTLY snapshot 2's files by reference
    // (its own append is the ADDED set)
    assert(ae.filter(col("snapshot_id") === 3 &&
      col("status") === "EXISTING").count() ==
      t.snapshots.find(_.id == 2).get.files.size)
  }

  test("writeWidth: a rollup or cube (Expand) over a small scan keeps " +
      "the session floor") {
    val floor = math.min(8, spark.sparkContext.defaultParallelism)
    val scan = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0))).read()
    assert(GraftTable.writeWidth(scan.groupBy("k", "tag").count()) == 1)
    assert(GraftTable.writeWidth(scan.rollup("k", "tag").count()) == floor)
    assert(GraftTable.writeWidth(scan.cube("k", "tag").count()) == floor)
  }

  // ---- manifest-backed scans -------------------------------------------

  /** The `commit-*` directory a data file was written under. */
  private def commitDir(f: String): String = {
    var p = new org.apache.hadoop.fs.Path(f).getParent
    while (!p.getName.startsWith("commit-")) p = p.getParent
    p.toString
  }

  /** Identity partitions of string, int and date type ahead of the
    * data columns, across three commits, with NULL partitions and
    * values that escape (`/`, `=`, `%`, space), under a root whose
    * path contains a space. */
  private def escapedPartTable(): GraftTable = {
    val root = Files.createTempDirectory("graft idx").resolve("t t").toString
    def d(s: String) = Some(java.sql.Date.valueOf(s))
    def batch(rows: (Option[String], Option[Int], Option[java.sql.Date],
        Long, String)*) = rows.toDF("s", "i", "d", "k", "v")
    val t = GraftTable.create(spark, root, batch(
      (Some("a/b"), Some(1), d("2024-01-01"), 1L, "x"),
      (Some("x=y"), Some(2), d("2024-01-02"), 2L, "y"),
      (None, Some(1), d("2024-01-01"), 3L, "z")), Seq("s", "i", "d"))
    t.append(batch(
      (Some("50%"), None, d("2024-01-01"), 4L, "p"),
      (Some("sp ace"), Some(2), None, 5L, "q"),
      (Some("a/b"), Some(1), d("2024-01-01"), 6L, "r")))
    t.append(batch(
      (Some("plain"), Some(3), d("2024-03-01"), 7L, "s"),
      (Some("x=y"), Some(2), d("2024-01-02"), 8L, "t"),
      (None, None, None, 9L, "u")))
    t
  }

  private def withPositions(df: org.apache.spark.sql.DataFrame) =
    df.select(col("*"), col("_metadata.file_path").as("fp"),
      col("_metadata.row_index").as("ri"), input_file_name().as("ifn"))

  private def rowStrings(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("a snapshot reads as one scan: rows, column order and file " +
      "metadata match per-commit basePath reads") {
    val t = escapedPartTable()
    val snap = t.currentSnapshot
    assert(snap.files.map(commitDir).distinct.size == 3)
    val ref = snap.files.groupBy(commitDir).toSeq.sortBy(_._1)
      .map { case (base, fs) => withPositions(spark.read
        .option("basePath", base).schema(snap.schema).parquet(fs: _*)) }
      .reduce(_.unionByName(_))
      .select("s", "i", "d", "k", "v", "fp", "ri", "ifn")
    val got = withPositions(t.read())
    // the snapshot schema's declared order: partition columns first here
    assert(got.columns.toSeq ==
      Seq("s", "i", "d", "k", "v", "fp", "ri", "ifn"))
    assert(got.schema == ref.schema)
    assert(rowStrings(got.drop("ifn")) == rowStrings(ref.drop("ifn")))
    assert(rowStrings(got).exists(_.startsWith("null|null|null|9|u|")))
    // input_file_name() names the same file (a listing renders a local
    // root as `file:///`, the manifest as `file:/`)
    def fileOf(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "ifn").as[(Long, String)].collect()
        .map { case (k, f) => k -> new java.net.URI(f).getPath }.toMap
    assert(fileOf(got) == fileOf(ref))
    // one relation, however many commits
    val scans = t.read().queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }
    assert(scans.size == 1, s"expected one scan: $scans")
    // file paths render exactly as the manifest path's URI form, the
    // form tombstones and COW file matching compare against
    val want = snap.files.map(f =>
      new org.apache.hadoop.fs.Path(f).toUri.toString).toSet
    assert(got.select("fp").as[String].collect().toSet == want)
    assert(got.select("ifn").as[String].collect().toSet == want)
    // manifests record no modification time: every file reports epoch 0
    assert(t.read().select("_metadata.file_modification_time")
      .as[java.sql.Timestamp].collect().map(_.getTime).toSet == Set(0L))
  }

  test("a partition predicate lists only the matching manifest files") {
    val t = escapedPartTable()
    val files = t.currentSnapshot.files
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      val plan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      plan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.sum
    }
    def dirFiles(seg: String) = files.count(_.contains(s"/$seg/")).toLong
    val eq = t.read().where(col("s") === "x=y")
    assert(scannedFiles(eq) == dirFiles("s=x%3Dy") && dirFiles("s=x%3Dy") == 2)
    assert(eq.select("k").as[Long].collect().sorted.toSeq == Seq(2L, 8L))
    val nul = t.read().where(col("i").isNull)
    assert(scannedFiles(nul) == files.count(_.contains(
      "/i=__HIVE_DEFAULT_PARTITION__/")).toLong)
    assert(nul.select("k").as[Long].collect().sorted.toSeq == Seq(4L, 9L))
    assert(scannedFiles(t.read()) == files.size.toLong)
  }

  test("planning a read of a table with more than 32 files starts no " +
      "Spark job") {
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_many").toString,
      spark.range(40).select(col("id").as("k"),
        col("id").cast("int").as("p")), Seq("p"))
    assert(t.currentSnapshot.files.size > 32)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(s"job ${e.jobId}"))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      // analysis, optimization, physical planning and the scan's RDD
      // (which lists the index's files) — everything short of running
      t.read().where(col("p") > 3).queryExecution.executedPlan.execute()
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.contains("marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(jobs.toArray.toSeq == Seq("marker"), s"jobs: $jobs")
    } finally sc.removeSparkListener(listener)
  }

  test("table_changes on a partitioned merge-on-read table nets an " +
      "equality DELETE with tombstoning UPDATE and MERGE in one range") {
    val name = "tc_part_mor"
    spark.sql(s"""CREATE TABLE $name (s STRING, k BIGINT, v DOUBLE)
      USING graft PARTITIONED BY (s)
      LOCATION '${Files.createTempDirectory("graft_tc_part")}'
      TBLPROPERTIES ('write.delete.mode' = 'merge-on-read',
        'write.update.mode' = 'merge-on-read',
        'write.merge.mode' = 'merge-on-read')""")
    spark.sql(s"INSERT INTO $name VALUES ('a', 1, 1.0), ('a', 2, 2.0), " +
      "('b', 3, 3.0), ('b', 4, 4.0), ('c', 5, 5.0)")
    val t = graft.lakehouse.LakeRegistry.get(name).get
    val from = t.currentSnapshotId
    spark.sql(s"DELETE FROM $name WHERE k = 1")
    spark.sql(s"UPDATE $name SET v = v + 10 WHERE k = 3")
    spark.sql(s"""MERGE INTO $name t
      USING (SELECT 'b' AS s, 4L AS k, 40.0D AS v
        UNION ALL SELECT 'c', 6L, 6.0D) src ON t.k = src.k
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    val to = t.currentSnapshotId
    val snap = t.currentSnapshot
    assert(snap.dels.nonEmpty && (snap.posDels.nonEmpty || snap.dvs.nonEmpty),
      "the range must mix an equality delete with position deletes")
    val got = spark.sql(s"SELECT s, k, v, _change_type FROM " +
        s"table_changes('$name', $from, $to)")
      .as[(String, Long, Double, String)].collect().toSeq.sorted
    assert(got == Seq(("a", 1L, 1.0, "delete"), ("b", 3L, 3.0, "delete"),
      ("b", 3L, 13.0, "insert"), ("b", 4L, 4.0, "delete"),
      ("b", 4L, 40.0, "insert"), ("c", 6L, 6.0, "insert")))
  }

  // ---- merge-on-read write amplification ---------------------------------

  test("identity-partitioned tables read in declared column order, so a " +
      "positional INSERT … SELECT * keeps every value in its column") {
    val name = "swp"
    spark.sql(s"""CREATE TABLE $name (k BIGINT, p STRING, s STRING)
      USING graft PARTITIONED BY (p)
      LOCATION '${Files.createTempDirectory("graft_swp")}'""")
    try {
      spark.sql(s"INSERT INTO $name VALUES (1, 'P1', 'S1')")
      val t = graft.lakehouse.LakeRegistry.get(name).get
      val first = t.currentSnapshotId
      spark.sql(s"INSERT INTO $name SELECT * FROM $name")
      assert(spark.sql(s"SELECT k, p, s FROM $name")
        .as[(Long, String, String)].collect().toSeq ==
        Seq((1L, "P1", "S1"), (1L, "P1", "S1")))
      val declared = Seq("k", "p", "s")
      assert(t.read().columns.toSeq == declared)
      assert(t.readAt(first).columns.toSeq == declared)
      assert(spark.sql(s"SELECT * FROM $name").columns.toSeq == declared)
      assert(spark.sql(s"SELECT * FROM $name VERSION AS OF $first")
        .columns.toSeq == declared)
    } finally graft.lakehouse.LakeRegistry.unregister(name)
    // a transform spec takes the SPJ path; its reads keep the order too
    val bt = GraftTable.create(spark,
      Files.createTempDirectory("graft_swp_b").toString,
      Seq((1L, 10L, "x"), (2L, 20L, "y")).toDF("k", "b", "s"),
      Seq("bucket[4](b)"))
    assert(graft.lakehouse.Spj.read(spark, "swp_b", bt).columns.toSeq ==
      Seq("k", "b", "s"))
    assert(bt.read().columns.toSeq == Seq("k", "b", "s"))
  }

  test("plain OPTIMIZE of a 3-value partitioned table writes one file per " +
      "value; FILES n writes at most max(n, #values) files") {
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_opt3").toString,
      spark.range(0, 40).select(col("id").as("k"),
        (col("id") % 3).cast("string").as("p"), col("id").cast("double").as("v")),
      Seq("p"))
    (1 to 3).foreach(i => t.append(spark.range(40 * i, 40 * i + 40)
      .select(col("id").as("k"), (col("id") % 3).cast("string").as("p"),
        col("id").cast("double").as("v"))))
    val name = "opt3_t"
    graft.lakehouse.LakeRegistry.register(name, t)
    try {
      def rows = t.read().select("k", "p", "v").as[(Long, String, Double)]
        .collect().toSeq.sorted
      val before = rows
      assert(t.currentSnapshot.files.size == 12)
      spark.sql(s"OPTIMIZE $name")
      assert(t.currentSnapshot.files.size <= 3,
        s"plain OPTIMIZE wrote ${t.currentSnapshot.files.size} files")
      assert(rows == before)
      spark.sql(s"OPTIMIZE $name FILES 7")
      assert(t.currentSnapshot.files.size <= 7)
      assert(rows == before)
      spark.sql(s"OPTIMIZE $name FILES 2")
      assert(t.currentSnapshot.files.size <= 3)
      assert(rows == before)
    } finally graft.lakehouse.LakeRegistry.unregister(name)
  }

  /** A merge-on-read table of `n` rows in 4 files, every file holding
    * keys from the whole range. */
  private def morTable(n: Long, style: String): GraftTable = {
    def part(j: Long) = spark.range(0, n / 4)
      .select((col("id") * 4 + j).as("k"), (col("id") % 7).as("v"))
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_mor").toString, part(0))
    (1L to 3L).foreach(j => t.append(part(j)))
    t.setProperties(Map("write.delete.mode" -> "merge-on-read",
      "write.update.mode" -> "merge-on-read",
      "write.merge.mode" -> "merge-on-read",
      "write.delete.style" -> style))
    t
  }

  test("a merge-on-read UPDATE of 400 rows commits exactly one " +
      "tombstone file") {
    val t = morTable(1000, "position")
    val before = t.currentSnapshot.posDels.toSet
    t.updateMoRPos(Map("v" -> "v + 100"), "k < 400")
    val snap = t.currentSnapshot
    val added = snap.posDels.filterNot(before)
    assert(added.size == 1, s"tombstone files: $added")
    assert(snap.posDelRows(added.head) == 400L)
    assert(t.read().where("v >= 100").count() == 400)
  }

  /** Every file-source scan of `files` in the plans `body` executes. */
  private def dataScansDuring(files: Seq[String])(body: => Unit): Int = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val want = files.map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath).toSet
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val marker = "graft_scan_marker"
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        plans.add(qe)
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF(marker).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def seen = plans.toArray.exists(q => q.asInstanceOf[QueryExecution]
        .analyzed.output.exists(_.name == marker))
      while (!seen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen, "the marker query never reached the listener")
    } finally spark.listenerManager.unregister(listener)
    plans.toArray.toSeq.map(_.asInstanceOf[QueryExecution]).map { qe =>
      nodes(qe.executedPlan).count {
        case f: FileSourceScanExec => f.relation.location.inputFiles
          .exists(x => want(new org.apache.hadoop.fs.Path(x).toUri.getPath))
        case _ => false
      }
    }.sum
  }

  test("a merge-on-read MERGE scans the target's data files once and " +
      "releases what it materialized") {
    for (style <- Seq("position", "vector")) {
      val t = morTable(400, style)
      val snap = t.currentSnapshot
      val cached = spark.sparkContext.getPersistentRDDs.size
      // 10 matched keys (one of them deleted by a clause), 5 new keys
      val src = (spark.range(0, 40, 4).select(col("id").as("k"),
          lit(50L).as("v")) union
        spark.range(1000, 1005).select(col("id").as("k"), lit(60L).as("v")))
      val scans = dataScansDuring(snap.files) {
        t.merge(src, Seq("k"), Seq(
          graft.lakehouse.MergeClause.Delete(Some("k = 36")),
          graft.lakehouse.MergeClause.Update(None, Map.empty),
          graft.lakehouse.MergeClause.Insert(None, Map.empty)))
      }
      assert(scans == 1, s"$style: the MERGE planned $scans target scans")
      assert(spark.sparkContext.getPersistentRDDs.size == cached,
        s"$style: the MERGE left materialized frames behind")
      val got = t.read()
      assert(got.count() == 400 - 1 + 5)
      assert(got.where("v = 50").count() == 9 && got.where("v = 60").count() == 5)
      if (style == "position")
        assert(t.currentSnapshot.posDels.size == snap.posDels.size + 1)
      // the cardinality guard still fires, and still frees both frames
      val dup = spark.range(0, 2).select(lit(4L).as("k"), lit(1L).as("v"))
      val e = intercept[IllegalArgumentException](t.merge(dup, "k"))
      assert(e.getMessage.contains("duplicate"))
      assert(spark.sparkContext.getPersistentRDDs.size == cached)
    }
  }
}
