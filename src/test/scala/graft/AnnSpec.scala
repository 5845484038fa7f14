package graft

import org.scalatest.funsuite.AnyFunSuite

class AnnSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}

  private def pairs(name: String): Set[(Long, Long)] =
    SparkEntry.queries(name)(spark, sf)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  lazy val exact: Set[(Long, Long)] = pairs("ann_bruteforce")

  test("bruteforce returns k ranked neighbors per query") {
    val df = SparkEntry.queries("ann_bruteforce")(spark, sf)
    assert(df.count() == 10 * 5)
    val ranks = df.groupBy("q_id").count().collect()
    assert(ranks.forall(_.getLong(1) == 5))
  }

  test("LSH recall@5 against exact top-5") {
    val got = pairs("ann_lsh")
    val recall = (got & exact).size.toDouble / exact.size
    info(f"ann_lsh recall@5 = $recall%.2f")
    assert(recall >= 0.5, f"recall too low: $recall%.2f")
  }

  test("range search: exact on candidates, decent recall vs true range") {
    import org.apache.spark.sql.functions.{broadcast, col}
    val got = pairs("ann_range")
    // the exact τ-neighborhood via a brute-force threshold scan
    val e = Tables.parallel(Tables.embeddings(spark, sf))
      .withColumn("v", col("embedding").cast("array<double>"))
      .withColumn("nrm", graft.functions.TextFunctions.l2norm(col("v")))
      .filter(col("nrm") > 0)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"),
        col("nrm").as("q_nrm"))
    val trueRange = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .filter(graft.functions.TextFunctions.cosine(
        col("v"), col("q_v"), col("nrm"), col("q_nrm")) >= 0.35)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(trueRange),
      "every emitted pair must truly be in range (exact verify)")
    val recall =
      if (trueRange.isEmpty) 1.0
      else (got & trueRange).size.toDouble / trueRange.size
    info(f"ann_range recall = $recall%.2f (${trueRange.size} true pairs)")
    assert(recall >= 0.5, f"range recall too low: $recall%.2f")
  }

  test("IVF recall@5 against exact top-5") {
    val got = pairs("ann_ivf")
    val recall = (got & exact).size.toDouble / exact.size
    info(f"ann_ivf recall@5 = $recall%.2f")
    assert(recall >= 0.3, f"recall too low: $recall%.2f")
  }

  test("k-means IVF recall@5 against exact top-5") {
    val got = graft.ann.Ann.ivfKmeansTopK(spark, sf)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty)
    val recall = (got & exact).size.toDouble / exact.size
    info(f"ann_ivf_kmeans recall@5 = $recall%.2f")
    assert(recall >= 0.3, f"recall too low: $recall%.2f")
  }

  test("PQ recall@5 against exact top-5 (ADC + exact re-rank)") {
    val got = graft.ann.Ann.pqTopK(spark, sf)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty)
    val recall = (got & exact).size.toDouble / exact.size
    info(f"ann_pq recall@5 = $recall%.2f")
    assert(recall >= 0.5, f"recall too low: $recall%.2f")
  }

  test("IVF-PQ recall@5 against exact top-5 (probed cells + residual ADC)") {
    val got = graft.ann.Ann.ivfPqTopK(spark, sf)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty)
    val recall = (got & exact).size.toDouble / exact.size
    info(f"ann_ivfpq recall@5 = $recall%.2f")
    assert(recall >= 0.5, f"recall too low: $recall%.2f")
  }

  test("SQ8 recall@5 against exact top-5 (flat ADC scan + re-rank)") {
    val got = graft.ann.Ann.sqTopK(spark, sf)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty)
    val recall = (got & exact).size.toDouble / exact.size
    info(f"ann_sq recall@5 = $recall%.2f")
    // 8-bit reconstruction on 64 normalized dims loses almost nothing;
    // well above the production 0.8 gate
    assert(recall >= 0.8, f"recall too low: $recall%.2f")
  }

  test("SQ decision row reports recall over threshold") {
    val r = SparkEntry.queries("ann_sq")(spark, sf).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_exact") == 10L * 5)
    assert(r.head.getAs[Boolean]("recall_ge_080"))
  }

  test("IVF-PQ decision row reports recall over threshold") {
    val r = SparkEntry.queries("ann_ivfpq")(spark, sf).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_exact") == 10L * 5)
    assert(r.head.getAs[Boolean]("recall_ge_080"))
  }

  test("PQ rerank: no window sorts the full corpus in one task per query") {
    // The ADC candidate cut is a salted two-level rank: the INNERMOST
    // window (the only one that sees the unreduced corpus scores)
    // must partition by (q_id, salt); a window partitioned by q_id
    // alone may only run above a stage-1 rank filter.
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Window => LW}
    val plan = graft.ann.Ann.pqTopK(spark, sf)
      .queryExecution.optimizedPlan
    val windows = plan.collect { case w: LW => w }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      val inner = w.child.collectFirst { case x: LW => x }.isDefined ||
        w.child.collectFirst { case f: Filter
          if f.condition.references.exists(_.name == "_r1") => f }.isDefined
      assert(w.partitionSpec.size >= 2 || inner,
        s"corpus-facing window must salt its partitioning: $w")
    }
  }

  test("PQ decision row reports recall over threshold") {
    val r = SparkEntry.queries("ann_pq")(spark, sf).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_exact") == 10L * 5)
    assert(r.head.getAs[Boolean]("recall_ge_080"))
  }

  test("k-means IVF decision row reports recall over threshold") {
    val r = SparkEntry.queries("ann_ivf_kmeans")(spark, sf).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_exact") == 10L * 5)
    assert(r.head.getAs[Boolean]("recall_ge_080"))
  }

  test("filtered search honors the label predicate exactly") {
    val out = SparkEntry.queries("ann_filtered")(spark, sf).collect()
    assert(out.nonEmpty)
    val labels = Tables.embeddings(spark, sf)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // every neighbor carries its query's label (the pre-filter is
    // a hard constraint, not a ranking preference)
    out.foreach { r =>
      val q = r.getAs[Long]("q_id"); val n = r.getAs[Long]("neighbor_id")
      assert(labels(n) == labels(q), s"query $q got cross-label $n")
      assert(n != q)
    }
    // per query, ranks are contiguous 1..k
    out.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted
        .sameElements(1 to rs.length), s"query $q ranks")
    }
    // filtered top-k is a subset of the same-label corpus ranking:
    // spot-check one query against a brute-force recompute
    import org.apache.spark.sql.functions.col
    val c = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2)))
      .filter { case (_, _, v) => v.exists(_ != 0.0) }
    val (qid, qlabel, qv) = c.find(_._1 == 0L).get
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val want = c.filter(e => e._2 == qlabel && e._1 != qid)
      .map(e => (e._1, cos(qv, e._3)))
      .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1)
    val got = out.filter(_.getAs[Long]("q_id") == qid)
      .sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("neighbor_id"))
    assert(got.sameElements(want))
  }

  test("argmax fold seeds from the first cell: all-null or all -inf " +
      "scores get a real cell, ties and NaN keep their order") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    def cells(xs: String*) = xs.zipWithIndex.map { case (x, i) =>
      s"named_struct('cell', ${i + 10}, 's', CAST($x AS DOUBLE))"
    }.mkString("array(", ", ", ")")
    val rows = Seq(
      cells("NULL", "NULL", "NULL") -> 10,
      cells("'-Infinity'", "'-Infinity'") -> 10,
      cells("1.0", "3.0", "3.0") -> 11,
      cells("1.0", "'NaN'", "'NaN'") -> 11,
      cells("NULL", "'-Infinity'", "-5.0") -> 12,
      cells("NULL", "2.0", "NULL") -> 11,
      cells("NULL") -> 10)
    val df = spark.sql(rows.zipWithIndex.map { case ((arr, _), i) =>
      s"SELECT $i AS id, $arr AS arr" }.mkString(" UNION ALL "))
    val got = df.select(col("id"),
        graft.ann.Ann.argmaxCell(col("arr"), _.getField("s")))
      .as[(Int, Int)].collect().toMap
    assert(got == rows.zipWithIndex.map { case ((_, c), i) => i -> c }.toMap)
  }
}
