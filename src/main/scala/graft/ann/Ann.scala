package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Registry.Q
import graft.Tables
import graft.functions.TextFunctions.{cosine, dot, l2norm}
import graft.functions.{Scored, TopKAggregator}

/** Approximate-nearest-neighbor search over the embeddings table
  * (SURVEY.md §2 "Similarity search"). Query set = vec_id < 10.
  *
  * Three tiers, matching how an ANN index scales:
  *  - brute force (exact baseline): broadcast the query set, one pass
  *    over the corpus, per-partition top-k via [[TopKAggregator]] —
  *    the corpus is never shuffled, only Q×k candidates are;
  *  - random-hyperplane LSH: 16 tables × 4 bits — corpus hashed once,
  *    candidates only from matching buckets;
  *  - IVF: coarse quantizer (here: per-label centroids, decimal-exact
  *    means), query probes the 3 nearest cells → touches 3/10 of the
  *    corpus.
  */
object Ann {
  private val K = 5
  private val NumQueries = 10

  private def corpus(s: SparkSession, d: String): DataFrame =
    Tables.parallel(Tables.embeddings(s, d))
      .withColumn("v", col("embedding").cast("array<double>"))
      .withColumn("nrm", l2norm(col("v")))
      // a zero-norm vector has no direction: its cosines are 0/0 =
      // NaN, which Spark's SQL ordering ranks FIRST, the typed
      // aggregator ranks last, and decimal training casts turn into
      // silent NULLs — drop it up front (the oracles filter the
      // same way), never let NaN into a ranking
      .filter(col("nrm") > 0)
      .select(col("vec_id"), col("label"), col("v"), col("nrm"))

  private def queriesDf(c: DataFrame): DataFrame =
    c.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"),
        col("nrm").as("q_nrm"), col("label").as("q_label"))

  /** (q_id, candidate vec_id, cos) → top-k per query via the
    * partial-aggregating top-k.
    *
    * The typed [[TopKAggregator]] is DELIBERATE here and would be
    * wrong on a full-corpus path (see pipeline_source_cap, which uses
    * the salted rank instead): every caller feeds this a candidate
    * set already pruned by its index structure (LSH buckets, IVF
    * probes, PQ rerank cut) and keyed by a handful of query ids, so
    * the object-aggregation plan constant amortizes over a BOUNDED
    * input and the map-side cap-deep buffers do the final cut without
    * another shuffle-wide window. */
  private def topK(s: SparkSession, scored: DataFrame): DataFrame = {
    import s.implicits._
    val agg = new TopKAggregator(K).toColumn
    scored.select(col("q_id"), col("vec_id"), col("cos"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues { case (_, id, c) => Scored(id, c) }
      .agg(agg.name("top"))
      .flatMap { case (q, top) =>
        top.zipWithIndex.map { case (sc, i) => (q, sc.id, i + 1) }
      }
      .toDF("q_id", "neighbor_id", "rank")
      .orderBy(col("q_id"), col("rank"))
  }

  private val bruteforce: Q = (s, d) => {
    val c = corpus(s, d)
    val q = queriesDf(c)
    val scored = c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("v"), col("q_v"), col("nrm"), col("q_nrm")))
    topK(s, scored)
  }

  /** Filtered (hybrid) search: metadata predicate ∧ vector top-k —
    * each query's candidate set is restricted to its OWN label (the
    * "filter by tenant/category, then rank by similarity" shape every
    * production vector store serves). PRE-filtering, not
    * post-filtering: the predicate rides the broadcast join as a join
    * condition, so scoring touches |corpus ∩ filter| rows and the
    * top-k is never starved by discarding ranked hits after the cut
    * (post-filter k′-oversampling is the lossy workaround this
    * avoids). At IVF scale the same predicate intersects the probed
    * cells' posting lists before rerank — the bounded-candidate
    * contract of [[topK]] is unchanged. */
  private val filtered: Q = (s, d) => {
    val c = corpus(s, d)
    val q = queriesDf(c)
    val scored = c.join(broadcast(q),
      col("vec_id") =!= col("q_id") && col("label") === col("q_label"))
      .withColumn("cos",
        cosine(col("v"), col("q_v"), col("nrm"), col("q_nrm")))
    topK(s, scored)
  }

  // Deterministic random hyperplanes: Tables × Bits planes of 64 dims.
  private val Dim = 64
  private val LshTables = 16
  private val LshBits = 4
  private lazy val planes: Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(LshTables, LshBits, Dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  private def sigCol(t: Int): Column = {
    // sig_t = sum over bits of (dot(v, plane) >= 0) << bit
    val bits = (0 until LshBits).map { b =>
      val plane = array(planes(t)(b).map(lit): _*)
      when(dot(col("v"), plane) >= 0, lit(1 << b)).otherwise(lit(0))
    }
    bits.reduce(_ + _)
  }

  /** LSH candidate generation + exact verify, shared by the top-k
    * ([[lsh]]) and range ([[range]]) acceptance rules: (q_id,
    * vec_id, cos) for every bucket-colliding pair, deduped across
    * tables, scored once. */
  private def lshScored(s: SparkSession, d: String): DataFrame = {
    val c = corpus(s, d)
    val sigd = c.select(
      (Seq(col("vec_id"), col("v"), col("nrm")) ++
        (0 until LshTables).map(t => sigCol(t).as(s"sig$t"))): _*)
    val cBuckets = sigd.select(col("vec_id"), col("v"), col("nrm"),
      explode(array((0 until LshTables).map(t =>
        struct(lit(t).as("t"), col(s"sig$t").as("sig"))): _*)).as("bk"))
      .select(col("vec_id"), col("v"), col("nrm"),
        col("bk.t").as("t"), col("bk.sig").as("sig"))
    val qBuckets = cBuckets.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"),
        col("nrm").as("q_nrm"), col("t").as("q_t"), col("sig").as("q_sig"))
    cBuckets.join(qBuckets,
        col("t") === col("q_t") && col("sig") === col("q_sig") &&
          col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("v"), col("nrm"),
        col("q_v"), col("q_nrm"))
      .dropDuplicates("q_id", "vec_id")
      .withColumn("cos", cosine(col("v"), col("q_v"), col("nrm"), col("q_nrm")))
  }

  /** Sign-random-projection LSH top-k. Recall is tuned by (tables,
    * bits): 16×4 gives ≳0.9 recall@5 at cos≈0.4 on random data;
    * memory scales linearly with tables. Deterministic planes →
    * exact DuckDB oracle (the ±1 plane literals are embedded in the
    * generated SQL); AnnSpec additionally measures recall vs
    * [[bruteforce]]. */
  private val lsh: Q = (s, d) => topK(s, lshScored(s, d))

  // The threshold comparison assumes Spark's cosine
  // (dot/(|a|·|b|), precomputed norms) and DuckDB's
  // list_cosine_similarity agree at τ to the last ulp for every
  // candidate — true on the fixed test corpora (verified at two
  // SFs); a pair landing WITHIN one ulp of τ could in principle
  // split the engines. The driver compares on fixed data, so the
  // check is deterministic either way.
  private val RangeTau = 0.35

  /** RANGE (radius) search — the threshold dual of top-k (FAISS's
    * `range_search`; the "find ALL near-duplicates of this item"
    * shape): every corpus vector whose cosine with the query is
    * ≥ τ, discovered through the SAME LSH structure as [[lsh]] —
    * the index prunes by direction, so one bucket build serves both
    * APIs and only the acceptance rule differs (rank cut vs
    * threshold). Candidates come only from colliding buckets, one
    * exact cosine verifies each, and the output is bounded by the
    * true neighborhood size, not an arbitrary k — at 100 TB the
    * range scan touches |collisions| rows, never the corpus.
    * Deterministic planes → the oracle reproduces buckets and
    * verify exactly; AnnSpec gates recall vs the exact threshold
    * scan. */
  private val range: Q = (s, d) =>
    lshScored(s, d).filter(col("cos") >= RangeTau)
      .select(col("q_id"), col("vec_id").as("neighbor_id"))
      .orderBy(col("q_id"), col("neighbor_id"))

  /** Element-wise decimal-exact mean vector per cell (deterministic
    * across shuffle layouts, unlike a double mean). One shuffle on
    * (cell, pos) with map-side partial aggregation. */
  private def cellMeans(assigned: DataFrame): DataFrame =
    assigned.select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cell"), col("pos"))
      .agg((sum(col("x").cast("decimal(28,18)")).cast("double") /
        count(lit(1)).cast("double")).as("m"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cell"), expr("transform(pm, s -> s.m)").as("c_v"))
      .withColumn("c_nrm", l2norm(col("c_v")))

  /** The 3 nearest centroids per query from a centroid relation
    * (tiny: Q x k rows; deterministic tie-break on cell). */
  private def probeTop3(q: DataFrame, cent: DataFrame): DataFrame =
    q.crossJoin(broadcast(cent))
      .withColumn("c_cos",
        cosine(col("q_v"), col("c_v"), col("q_nrm"), col("c_nrm")))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("c_cos").desc, col("cell").asc)))
      .filter(col("rk") <= Probes)
      .select(col("q_id"), col("q_v"), col("q_nrm"), col("cell"))

  /** IVF with the dataset's `label` as the given coarse quantizer:
    * decimal-exact per-cell centroids, probe the 3 nearest cells.
    * Fully deterministic -> exact DuckDB oracle (decimal-exact means
    * reproduce bit-identically in SQL); AnnSpec measures recall
    * (0.36 - the labels are a poor quantizer; see [[ivfKmeans]]). */
  private val ivf: Q = (s, d) => {
    val c = corpus(s, d)
    val cent = cellMeans(c.withColumn("cell", col("label")))
    val probes = probeTop3(queriesDf(c), cent)
    val cand = c.join(broadcast(probes),
        col("label") === col("cell") && col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("v"), col("q_v"), col("nrm"), col("q_nrm")))
    topK(s, cand)
  }

  /** A trained centroid held driver-side. The quantizer is a few KB
    * of metadata (k x dim doubles) - keeping it as literals makes
    * assignment and probing pure projections: k native dot products
    * per row, zero joins, zero shuffles, and the Lloyd-iteration
    * lineage never nests (each round collects k vectors and starts a
    * fresh plan). Norms are computed with the same sequential fold as
    * [[graft.functions.TextFunctions.l2norm]], so values are
    * bit-identical to the distributed path. */
  private final case class Centroid(cell: Int, v: Array[Double], nrm: Double)

  private def mkCentroid(cell: Int, v: Array[Double]): Centroid = {
    var acc = 0.0
    var i = 0
    while (i < v.length) { acc += v(i) * v(i); i += 1 }
    Centroid(cell, v, math.sqrt(acc))
  }

  private def litVec(v: Array[Double]): Column = array(v.map(lit).toIndexedSeq: _*)

  /** argmax over literal centroids via lexicographic greatest on
    * struct(cos, -cell): highest cosine wins, ties to lowest cell. */
  private def assignCellCol(v: Column, nrm: Column, cent: Seq[Centroid]): Column = {
    require(cent.nonEmpty, "no centroids")
    if (cent.size == 1) lit(cent.head.cell) // greatest() needs >= 2 args
    else greatest(cent.map(ct => struct(
      (dot(v, litVec(ct.v)) / (nrm * lit(ct.nrm))).as("cos"),
      lit(-ct.cell).as("negc"))): _*).getField("negc") * -1
  }

  /** Top-3 cells per row: ascending sort of struct(-cos, cell). */
  private def probeCellsCol(qv: Column, qnrm: Column, cent: Seq[Centroid]): Column =
    transform(
      slice(array_sort(array(cent.map(ct => struct(
        (-(dot(qv, litVec(ct.v)) / (qnrm * lit(ct.nrm)))).as("nc"),
        lit(ct.cell).as("cell"))): _*)), 1, Probes),
      x => x.getField("cell"))

  private val KmeansCells = 10
  private val KmeansIters = 3
  /** Cells probed per query — one knob for every IVF tier. */
  private val Probes = 3
  /** Lloyd rounds for the PQ-stack coarse/book training (recall is
    * routing-dominated there; a third round measured no change). */
  private val PqTrainRounds = 2

  /** Deterministic Lloyd training: init = the k lowest vec_ids; each
    * round assigns RELATIONALLY (corpus × broadcast centroid relation
    * → lexicographic argmax per vector — the literal-expression form
    * re-spent ~1 s of analysis+codegen per round, the same plan-cost
    * lesson as PQ) and aggregates decimal-exact cell means, collected
    * back to the driver (at 100 TB the quantizer trains on a sample,
    * not the full corpus). The SEARCH-time assignment stays the
    * zero-shuffle literal projection ([[assignCellCol]]) — built
    * once, scanning the full corpus with no join. */
  private def trainKmeans(c: DataFrame, k: Int, iters: Int): Seq[Centroid] = {
    def fromRows(rows: Array[org.apache.spark.sql.Row]): Seq[Centroid] =
      rows.map(r => mkCentroid(r.getInt(0), r.getSeq[Double](1).toArray))
        .toSeq.sortBy(_.cell)
    // init from the k lowest vec_ids actually present (robust to any
    // id distribution, unlike a `vec_id < k` filter)
    var cent = fromRows(c.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").cast("int").as("cell"), col("v")).collect())
    // one-row centroid relation + per-row HOF argmax (round 20, guide
    // §2.4): assignment is per-vector, so the r19 groupBy(vec_id)
    // exchange of the whole corpus existed only to fold the k
    // candidate rows of the broadcast fan-out back together — the
    // fold now happens in place, zero shuffles per round before the
    // (tiny, partially-aggregated) cell-mean exchange. Scoring is the
    // same cosine kernel; the fold keeps the first strict maximum
    // over the cell-ascending array with Spark's NaN-greatest
    // ordering — exactly max(struct(a_cos, −cell)).
    for (_ <- 1 to iters) {
      val centRow = c.sparkSession.range(1).select(array(cent.map(ct =>
        struct(lit(ct.cell).as("cell"), lit(ct.v).as("c_v"),
          lit(ct.nrm).as("c_nrm"))): _*).as("cents"))
      val assigned = c.crossJoin(broadcast(centRow))
        .select(argmaxCell(col("cents"), ct => cosine(col("v"),
          ct.getField("c_v"), col("nrm"), ct.getField("c_nrm")))
          .as("cell"), col("v"))
      cent = fromRows(cellMeans(assigned)
        .select(col("cell").cast("int"), col("c_v")).collect())
    }
    cent
  }

  /** IVF with a trained coarse quantizer - the honest version of
    * [[ivf]]. Search: assignment and probe-selection are projections
    * against the literal centroids; the only shuffle is the
    * broadcast-join of the ~3Q probe rows against the corpus (none
    * for the corpus itself). AnnSpec measures recall (0.90 vs 0.36
    * for label cells). */
  private[graft] def ivfKmeansTopK(s: SparkSession, d: String): DataFrame = {
    val c = corpus(s, d)
    val cent = trainKmeans(c, KmeansCells, KmeansIters)
    val assigned = c.withColumn("cell",
      assignCellCol(col("v"), col("nrm"), cent))
    val probes = queriesDf(c).select(col("q_id"), col("q_v"), col("q_nrm"),
      explode(probeCellsCol(col("q_v"), col("q_nrm"), cent)).as("cell"))
    val cand = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("v"), col("q_v"), col("nrm"), col("q_nrm")))
    topK(s, cand)
  }

  // ---- product quantization ---------------------------------------

  private val PqM = 8            // subspaces
  private val PqK = 16           // centroids per subspace (4-bit codes)
  private val PqSub = Dim / PqM  // dims per subspace
  private val PqRerank = 100     // ADC candidates re-ranked exactly
  private val PqSalt = 32        // stage-1 fanout of the rerank cut

  /** The joint codebooks as ONE broadcastable ROW —
    * `books[m+1]` = subspace m's K centroids, cell-ascending.
    * Round 20 (guide §2.4): carrying the books as a nested-array
    * VALUE (not M×K join rows, and still not plan literals — the
    * literal form spent ~5 s/invocation in analysis+codegen, the
    * round-4 lesson) lets assignment run as a ZERO-SHUFFLE
    * projection: the r19 join form fanned every (vector, subspace)
    * out to K candidate rows and paid a corpus-wide
    * groupBy(vec_id, m) exchange to argmax them back together —
    * rows that never needed to leave their partition, since the
    * argmax is per-vector. The HOF argmax visits the same K
    * candidates per (vector, subspace) inside one row instead. Each
    * centroid is a (cell, c_v, half = ||c||²/2) struct, built as a
    * `Row` under an explicit schema so the relation needs no
    * case-class encoder (whose generated projection does not compile
    * for a private class). */
  private def booksRowDf(s: SparkSession,
      books: Seq[Seq[Centroid]]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val cent = StructType(Seq(
      StructField("cell", IntegerType, nullable = false),
      StructField("c_v", ArrayType(DoubleType, containsNull = false)),
      StructField("half", DoubleType, nullable = false)))
    val row = Row(books.map(_.map(ct =>
      Row(ct.cell, ct.v.toSeq, ct.nrm * ct.nrm / 2))))
    s.createDataFrame(java.util.List.of(row), StructType(Seq(
      StructField("books", ArrayType(ArrayType(cent))))))
  }

  /** The [[PqM]] sub-vector slices of `vn`, computed once per row —
    * the same slice expression the r19 subVectors explode used, so
    * slice values are bit-identical. */
  private def subsCol: Column = expr(
    s"transform(sequence(0, ${PqM - 1}), mi -> " +
      s"slice(vn, mi * $PqSub + 1, $PqSub))")

  /** HOF argmax over a cell-ascending array of structs with a `cell`
    * field: the fold keeps the FIRST strict maximum of `score` —
    * highest score wins, ties to the LOWEST cell, exactly
    * `max(struct(score, −cell))`. The isnan clause replicates Spark's
    * NaN-is-greatest aggregate ordering (a NaN score wins over any
    * non-NaN, first NaN wins among NaNs) so the fold can never
    * silently diverge from the old argmax. The fold is seeded from
    * the FIRST element, not a sentinel, so a row whose scores are all
    * null or −∞ still gets a real cell (the first); a null score
    * loses to any non-null one. */
  private[graft] def argmaxCell(arr: Column, score: Column => Column): Column = {
    def cand(e: Column, sc: Column) =
      struct(sc.as("score"), e.getField("cell").as("cell"))
    val first = get(arr, lit(0))
    aggregate(slice(arr, lit(2), greatest(size(arr) - 1, lit(0))),
      cand(first, score(first)),
      (acc, e) => {
        val sc = score(e)
        val best = acc.getField("score")
        when((best.isNull && sc.isNotNull) || sc > best ||
            (isnan(sc) && !isnan(best)), cand(e, sc))
          .otherwise(acc)
      }).getField("cell")
  }

  /** Argmin-L2 over one subspace's codebook array: score =
    * dot(sub, c) − ||c||²/2 (minimizing ||x−c||² over fixed x is
    * maximizing that — same kernel, same values as the r19 join
    * form), folded by [[argmaxCell]]. */
  private def bestCell(sub: Column, bk: Column): Column =
    argmaxCell(bk, b => dot(sub, b.getField("c_v")) - b.getField("half"))

  /** PQ assignment: corpus → (vec_id, m, code), zero shuffles — one
    * single-row codebook broadcast, per-row HOF argmax per subspace,
    * narrow posexplode. Codes bit-identical to the r19 join form
    * (see [[bestCell]]); oracle-confirmed at both SFs. */
  private def relationalCodes(c: DataFrame,
      books: Seq[Seq[Centroid]]): DataFrame =
    c.crossJoin(broadcast(booksRowDf(c.sparkSession, books)))
      .select(col("vec_id"),
        posexplode(zip_with(subsCol, col("books"),
          (sub, bk) => bestCell(sub, bk))).as(Seq("m", "code")))

  /** Deterministic Lloyd training of ALL [[PqM]] per-subspace
    * codebooks jointly (L2, the PQ metric): each round is ONE
    * relational assignment plus ONE decimal-exact mean aggregate
    * keyed by (subspace, cell, pos) — one pass over the corpus per
    * round regardless of M, not M separate trainings. The codebooks
    * are a few KB of driver-side rows; at 100 TB they train on a
    * sample. */
  private def trainPqBooks(c: DataFrame, iters: Int): Seq[Seq[Centroid]] = {
    val initRows = c.orderBy(col("vec_id")).limit(PqK)
      .select(col("vec_id").cast("int").as("cell"), col("vn")).collect()
    var books: Seq[Seq[Centroid]] = (0 until PqM).map { m =>
      initRows.map(r => mkCentroid(r.getInt(0),
        r.getSeq[Double](1).slice(m * PqSub, (m + 1) * PqSub).toArray))
        .toSeq.sortBy(_.cell)
    }
    for (_ <- 1 to iters) {
      // ONE pass per round with ZERO wide shuffles of corpus rows
      // (round 19 carried the sub through the argmax group; round 20
      // removes the corpus-wide groupBy(vec_id, m) exchange entirely
      // — assignment is per-row, so the HOF argmax computes each
      // (vector, subspace)'s code in place and posexplode feeds the
      // mean update narrowly; the only remaining exchange is the
      // M×K×PqSub-group mean aggregate, tiny after map-side partial
      // aggregation). Same (m, code, pos, x) multiset, same decimal
      // sums — order-independent, bit-identical books.
      val rows = c
        .crossJoin(broadcast(booksRowDf(c.sparkSession, books)))
        .select(posexplode(zip_with(subsCol, col("books"), (sub, bk) =>
          struct(bestCell(sub, bk).as("code"), sub.as("sub"))))
          .as(Seq("m", "e")))
        .select(col("m"), col("e.code").as("code"),
          posexplode(col("e.sub")).as(Seq("pos", "x")))
        .groupBy(col("m"), col("code"), col("pos"))
        .agg((sum(col("x").cast("decimal(28,18)")).cast("double") /
          count(lit(1)).cast("double")).as("mean"))
        .collect()
      books = (0 until PqM).map { m =>
        rows.filter(_.getInt(0) == m)
          .groupBy(_.getInt(1)).toSeq
          .map { case (cell, rs) =>
            mkCentroid(cell,
              rs.sortBy(_.getInt(2)).map(_.getDouble(3)).toArray)
          }.sortBy(_.cell)
      }
    }
    books
  }

  /** Product quantization with asymmetric-distance search — the tier
    * that makes 100 TB vector search feasible: after training, the
    * corpus carries [[PqM]] 4-bit codes per vector instead of 64
    * doubles (the candidate scan below touches ONLY `vec_id` +
    * codes; the full vectors rejoin for the final [[PqRerank]]-
    * candidate re-rank). Vectors are L2-normalized first so dot
    * decomposes per subspace: cos(q,v) ≈ Σ_m dot(q_m,
    * codebook_m[code_m]) — the ADC score, evaluated as a
    * literal-codebook expression, zero shuffles. */
  private[graft] def pqTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = corpus(s, d)
      .withColumn("vn", transform(col("v"), x => x / col("nrm")))
    // two Lloyd rounds suffice for the 4-bit codebooks (recall is
    // re-rank-dominated; a third round measured no recall gain and
    // one more full-corpus pass)
    val books = trainPqBooks(c, PqTrainRounds)
    // the compression step: corpus → (vec_id, m, code) — 8 four-bit
    // codes per vector, via the relational assignment
    val codes = relationalCodes(c, books)
    // ADC lookup table, computed driver-side from the (tiny, by
    // definition) query set: Q × M × K partial dot products. The
    // corpus side of the join carries ONLY codes — this join + sum
    // IS the asymmetric-distance scan, and the LUT broadcast is a
    // few KB no matter how big the corpus is.
    val qRows = c.filter(col("vec_id") < NumQueries)
      .select(col("vec_id"), col("vn")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val lut = qRows.toSeq.flatMap { case (qId, qvn) =>
      (0 until PqM).flatMap { m =>
        books(m).map { ct =>
          var acc = 0.0
          var i = 0
          while (i < PqSub) { acc += qvn(m * PqSub + i) * ct.v(i); i += 1 }
          (qId, m, ct.cell, acc)
        }
      }
    }.toDF("q_id", "m", "code", "partial")
    val adcScores = codes
      .join(broadcast(lut), Seq("m", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      // decimal-exact sum: double accumulation order would vary with
      // shuffle arrival and could jitter ranks at the re-rank boundary
      // (the decimal→double rendering below is deterministic)
      .agg(sum(col("partial").cast("decimal(28,18)")).cast("double").as("adc"))
    // Bounded top-PqRerank per query via the salted two-level rank
    // ([[graft.functions.SaltedRank]]): a plain row_number over
    // partitionBy(q_id) would sort the ENTIRE corpus's ADC scores for
    // one query inside one task (the per-query single-task bottleneck
    // at 100 TB).
    val ranked = graft.functions.SaltedRank.topKPerGroup(adcScores,
        Seq(col("q_id")), Seq(col("adc").desc, col("vec_id").asc),
        PqRerank, col("vec_id"), PqSalt)
      .select(col("q_id"), col("vec_id"))
    // exact re-rank of Q×PqRerank candidates: only now do full
    // vectors join
    val rer = ranked
      .join(c.select(col("vec_id"), col("v"), col("nrm")), Seq("vec_id"))
      .join(broadcast(c.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("v").as("q_v"),
          col("nrm").as("q_nrm"))), Seq("q_id"))
      .withColumn("cos",
        cosine(col("v"), col("q_v"), col("nrm"), col("q_nrm")))
    topK(s, rer)
  }

  // ---- IVF-PQ composite -------------------------------------------

  private val IvfPqProbes = Probes

  /** IVF+PQ — the two-level composite that makes 100 TB vector search
    * a pruning problem at BOTH ends (FAISS's IndexIVFPQ): the trained
    * coarse quantizer routes each vector to a cell, PQ encodes the
    * RESIDUAL `vn − cent(cell)` in [[PqM]] 4-bit codes (residuals
    * carry only within-cell variance, so the shared 16-cell-per-
    * subspace codebooks spend their budget on far less spread than
    * raw-vector PQ), and a query scores only its probed cells' vectors
    * by LUT lookup:
    *
    *   cos(q,v) = dot(qn, cent(cell)) + dot(qn, residual)
    *            ≈ bias(q, cell) + Σ_m dot(qn_m, book_m[code_m])
    *
    * So where [[pqTopK]] ADC-scans the WHOLE corpus (N×M code rows
    * joined to the LUT), this scans probes/nlist of it — the
    * candidate-pair join against the broadcast probe relation is the
    * IVF cut, and the rows it carries are (vec_id, cell, codes),
    * never vectors. Full vectors rejoin only for the bounded exact
    * re-rank. Both quantizers train relationally and land driver-side
    * (a few KB; at 100 TB they train on a sample). */
  private[graft] def ivfPqTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = corpus(s, d)
      .withColumn("vn", transform(col("v"), x => x / col("nrm")))
    // coarse quantizer over the normalized corpus (unit norm ⇒ the
    // cosine assignment is spherical k-means). Two Lloyd rounds, not
    // ivfKmeans' three: the PQ+rerank stack on top makes recall
    // routing-dominated, and a third round measured no recall change
    // for one more full-corpus pass
    val coarse = trainKmeans(
      c.select(col("vec_id"), col("vn").as("v"), lit(1.0).as("nrm")),
      KmeansCells, PqTrainRounds)
    val assigned = c.withColumn("cell",
      assignCellCol(col("vn"), lit(1.0), coarse))
    // residuals via a broadcast join against the tiny centroid
    // relation — one zero-shuffle projection over the corpus
    val centDf = coarse.map(ct => (ct.cell, ct.v))
      .toDF("r_cell", "cent_v")
    val resid = assigned
      .join(broadcast(centDf), col("cell") === col("r_cell"))
      .select(col("vec_id"),
        zip_with(col("vn"), col("cent_v"), (a, b) => a - b).as("vn"))
    val books = trainPqBooks(resid, 2)
    val codes = relationalCodes(resid, books)
    // query-side metadata, all driver-computed from the (tiny by
    // definition) query set: probed cells with their coarse-dot bias,
    // and the residual-codebook ADC LUT — Q×probes + Q×M×K rows
    // broadcast, invariant in corpus size
    val qRows = c.filter(col("vec_id") < NumQueries)
      .select(col("vec_id"), col("vn")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def ddot(a: Array[Double], b: Array[Double], off: Int): Double = {
      var acc = 0.0
      var i = 0
      while (i < b.length) { acc += a(off + i) * b(i); i += 1 }
      acc
    }
    val probeRows = qRows.toSeq.flatMap { case (qId, qvn) =>
      coarse.map { ct =>
        val bias = ddot(qvn, ct.v, 0)
        (qId, ct.cell, bias, bias / ct.nrm)
      }.sortBy { case (_, cell, _, cos) => (-cos, cell) }
        .take(IvfPqProbes)
        .map { case (q, cell, bias, _) => (q, cell, bias) }
    }.toDF("q_id", "p_cell", "bias")
    val lut = qRows.toSeq.flatMap { case (qId, qvn) =>
      (0 until PqM).flatMap { m =>
        books(m).map(ct => (qId, m, ct.cell, ddot(qvn, ct.v, m * PqSub)))
      }
    }.toDF("q_id", "m", "code", "partial")
    // the IVF cut: (q, vec) candidate pairs exist ONLY for probed
    // cells, then the code join + LUT sum is the ADC scan
    val cand = assigned.select(col("vec_id"), col("cell"))
      .join(broadcast(probeRows), col("cell") === col("p_cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("bias"))
    val adc = cand
      .join(codes, Seq("vec_id"))
      .join(broadcast(lut), Seq("q_id", "m", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      // decimal-exact sum (shuffle-order-independent) + the per-group-
      // constant bias: ranks at the re-rank boundary never jitter
      .agg((first(col("bias")) +
        sum(col("partial").cast("decimal(28,18)")).cast("double")).as("adc"))
    val ranked = graft.functions.SaltedRank.topKPerGroup(adc,
        Seq(col("q_id")), Seq(col("adc").desc, col("vec_id").asc),
        PqRerank, col("vec_id"), PqSalt)
      .select(col("q_id"), col("vec_id"))
    val rer = ranked
      .join(c.select(col("vec_id"), col("v"), col("nrm")), Seq("vec_id"))
      .join(broadcast(c.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("v").as("q_v"),
          col("nrm").as("q_nrm"))), Seq("q_id"))
      .withColumn("cos",
        cosine(col("v"), col("q_v"), col("nrm"), col("q_nrm")))
    topK(s, rer)
  }

  // ---- int8 scalar quantization -----------------------------------

  /** Scalar quantization (FAISS's IndexScalarQuantizer, QT_8bit): each
    * dimension of the NORMALIZED vector quantizes independently to an
    * 8-bit code against per-dimension [min, max] bounds trained in one
    * relational pass — 4 bytes/dim shrinks to 1 with no codebook
    * training at all (the quantizer is 2×Dim doubles of driver
    * metadata; at 100 TB the bounds train on a sample exactly like
    * the k-means tiers). Scoring is a flat ADC scan:
    *
    *   dot(qn, v̂) = dot(qn, mn) + Σ_d qn_d·span_d/255 · code_d
    *              = bias(q)     + Σ_d factor_q[d]   · code_d
    *
    * so the scan touches only (vec_id, codes) rows and the per-query
    * factor arrays ride a broadcast — no full vector moves until the
    * bounded exact re-rank. Rank determinism: the per-row zip_with
    * sum is sequential (no shuffle-order dependence), ties break on
    * vec_id in the salted rank. */
  private[graft] def sqTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = corpus(s, d)
      .withColumn("vn", transform(col("v"), x => x / col("nrm")))
    // per-dimension bounds: one shuffle on pos, Dim rows back
    val ranges = c.select(posexplode(col("vn")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect().sortBy(_.getInt(0))
    val mn = ranges.map(_.getDouble(1))
    val span = ranges.map(r => math.max(r.getDouble(2) - r.getDouble(1),
      java.lang.Double.MIN_NORMAL)) // degenerate dim: all codes 0
    val mnCol = array(mn.map(lit): _*)
    val spanCol = array(span.map(lit): _*)
    val codedBound = c
      .withColumn("mnA", mnCol).withColumn("spanA", spanCol)
      .withColumn("codes",
        expr("transform(vn, (x, i) -> CAST(floor((x - element_at(" +
          "mnA, i + 1)) / element_at(spanA, i + 1) * 255.0 + 0.5) AS INT))"))
      .select(col("vec_id"), col("codes"))
    // query-side: bias + per-dim factors, driver-computed, broadcast
    val qRows = c.filter(col("vec_id") < NumQueries)
      .select(col("vec_id"), col("vn")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val qMeta = qRows.toSeq.map { case (qId, qvn) =>
      val bias = qvn.zip(mn).map { case (a, b) => a * b }.sum
      val factors = qvn.zip(span).map { case (a, sp) => a * sp / 255.0 }
      (qId, bias, factors)
    }.toDF("q_id", "q_bias", "q_factors")
    val adc = codedBound.crossJoin(broadcast(qMeta))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adc", col("q_bias") +
        aggregate(zip_with(col("codes"), col("q_factors"),
          (cc, f) => cc * f), lit(0.0), (acc, x) => acc + x))
      .select(col("q_id"), col("vec_id"), col("adc"))
    val ranked = graft.functions.SaltedRank.topKPerGroup(adc,
        Seq(col("q_id")), Seq(col("adc").desc, col("vec_id").asc),
        PqRerank, col("vec_id"), PqSalt)
      .select(col("q_id"), col("vec_id"))
    val rer = ranked
      .join(c.select(col("vec_id"), col("v"), col("nrm")), Seq("vec_id"))
      .join(broadcast(c.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("v").as("q_v"),
          col("nrm").as("q_nrm"))), Seq("q_id"))
      .withColumn("cos",
        cosine(col("v"), col("q_v"), col("nrm"), col("q_nrm")))
    topK(s, rer)
  }

  /** Shared driver-gated decision row for the trained-quantizer
    * tiers (their Lloyd training cannot unroll into one SQL
    * statement): exact-result cardinality + a recall@5 >= 0.8
    * verdict the oracle expects TRUE — deterministic end to end, so
    * a recall regression flips the flag and fails the hash gate. */
  private def recallGate(s: SparkSession, d: String,
      approxTopK: DataFrame): DataFrame = {
    val approx = approxTopK.select(col("q_id"), col("neighbor_id"))
    val exact = bruteforce(s, d).select(col("q_id"), col("neighbor_id"))
    // ONE pass over the exact subplan: a semi-join branch plus a
    // separate count branch would embed the full brute-force scan
    // twice in the same plan (a second whole-corpus pass at scale)
    exact.join(approx.withColumn("hit", lit(1)),
        Seq("q_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .select(col("n_exact"),
        (col("n_hit") >= col("n_exact") * 0.8).as("recall_ge_080"))
  }

  private val pq: Q = (s, d) => recallGate(s, d, pqTopK(s, d))

  private val ivfKmeans: Q = (s, d) => recallGate(s, d, ivfKmeansTopK(s, d))

  private val ivfPq: Q = (s, d) => recallGate(s, d, ivfPqTopK(s, d))

  private val sq: Q = (s, d) => recallGate(s, d, sqTopK(s, d))

  val queries: Map[String, Q] = Map(
    "ann_bruteforce" -> bruteforce,
    "ann_filtered" -> filtered,
    "ann_lsh" -> lsh,
    "ann_range" -> range,
    "ann_ivf" -> ivf,
    "ann_ivf_kmeans" -> ivfKmeans,
    "ann_pq" -> pq,
    "ann_sq" -> sq,
    "ann_ivfpq" -> ivfPq)

  // ---- DuckDB oracles ---------------------------------------------

  /** The exact top-k as DuckDB CTEs, shared by the brute-force oracle
    * and the k-means decision-row oracle. */
  /** The LSH bucket build + exact verify as DuckDB CTEs — ONE
    * authority shared by the `ann_lsh` and `ann_range` oracles (the
    * two differ only in their acceptance rule). */
  private def lshCtes: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings
       |   WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
       |                          CAST(embedding AS DOUBLE[])) > 0),
       | sg AS (SELECT vec_id, v,
       |   [${(0 until LshTables).map(sigSql).mkString(",")}] AS sigs FROM e),
       | cb AS (SELECT vec_id, v, UNNEST(range($LshTables)) AS t,
       |   UNNEST(sigs) AS sig FROM sg),
       | qb AS (SELECT vec_id AS q_id, t, sig FROM cb
       |   WHERE vec_id < $NumQueries),
       | cand AS (SELECT DISTINCT qb.q_id, cb.vec_id
       |  FROM cb JOIN qb ON cb.t = qb.t AND cb.sig = qb.sig
       |    AND cb.vec_id <> qb.q_id),
       | s AS (SELECT c.q_id, c.vec_id,
       |   list_cosine_similarity(e1.v, e2.v) AS cos
       |  FROM cand c JOIN e e1 ON e1.vec_id = c.vec_id
       |   JOIN e e2 ON e2.vec_id = c.q_id)""".stripMargin

  private def bruteforceCtes: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings
       |   WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
       |                          CAST(embedding AS DOUBLE[])) > 0),
       | q AS (SELECT vec_id AS q_id, v AS q_v FROM e WHERE vec_id < $NumQueries),
       | s AS (SELECT q.q_id, e.vec_id,
       |   list_cosine_similarity(e.v, q.q_v) AS cos
       |  FROM e CROSS JOIN q WHERE e.vec_id != q.q_id),
       | r AS (SELECT q_id, vec_id,
       |   CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |     ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
       |  FROM s)""".stripMargin

  /** `[1,-1,…]` literal for plane (t, b) — the SAME array the Spark
    * side hashes with, so the oracle reproduces the buckets exactly. */
  private def planeLit(t: Int, b: Int): String =
    planes(t)(b).map(x => if (x > 0) "1" else "-1").mkString("[", ",", "]")

  private def sigSql(t: Int): String =
    (0 until LshBits).map(b =>
      s"(CASE WHEN list_dot_product(v, ${planeLit(t, b)}) >= 0 " +
        s"THEN ${1 << b} ELSE 0 END)").mkString("(", " + ", ")")

  val oracles: Map[String, String] = Map(
    "ann_bruteforce" ->
      s"""$bruteforceCtes
         |SELECT q_id, vec_id AS neighbor_id, rank FROM r
         |WHERE rank <= $K ORDER BY q_id, rank""".stripMargin,
    // The label predicate joins INTO the candidate generation (the
    // pre-filter), exactly as the Spark side does.
    "ann_filtered" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v
         |   FROM embeddings
         |   WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
         |                          CAST(embedding AS DOUBLE[])) > 0),
         | q AS (SELECT vec_id AS q_id, label AS q_label, v AS q_v
         |   FROM e WHERE vec_id < $NumQueries),
         | s AS (SELECT q.q_id, e.vec_id,
         |   list_cosine_similarity(e.v, q.q_v) AS cos
         |  FROM e JOIN q ON e.label = q.q_label AND e.vec_id != q.q_id),
         | r AS (SELECT q_id, vec_id,
         |   CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |     ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
         |  FROM s)
         |SELECT q_id, vec_id AS neighbor_id, rank FROM r
         |WHERE rank <= $K ORDER BY q_id, rank""".stripMargin,
    // Bit-exact replica of the LSH pipeline: the deterministic ±1
    // hyperplanes are embedded as literals, bucket signatures and the
    // band join reproduce in SQL, candidates rank by cosine.
    "ann_lsh" ->
      s"""$lshCtes,
         | r AS (SELECT q_id, vec_id,
         |   CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |     ORDER BY cos DESC, vec_id ASC) AS INT) AS rank FROM s)
         |SELECT q_id, vec_id AS neighbor_id, rank FROM r
         |WHERE rank <= $K ORDER BY q_id, rank""".stripMargin,
    // same buckets + verify as ann_lsh; only the acceptance rule
    // differs (threshold instead of rank cut)
    "ann_range" ->
      s"""$lshCtes
         |SELECT q_id, vec_id AS neighbor_id FROM s WHERE cos >= $RangeTau
         |ORDER BY q_id, neighbor_id""".stripMargin,
    // Bit-exact replica of the label-cell IVF: decimal(28,18)-exact
    // centroid means reproduce Spark's decimal aggregation, then the
    // same top-3 probe and top-k rank.
    "ann_ivf" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v
         |   FROM embeddings
         |   WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
         |                          CAST(embedding AS DOUBLE[])) > 0),
         | ex AS (SELECT label AS cell, UNNEST(v) AS x,
         |   UNNEST(range(1, len(v)+1)) AS pos FROM e),
         | cm AS (SELECT cell, pos,
         |   CAST(SUM(CAST(x AS DECIMAL(28,18))) AS DOUBLE)
         |     / CAST(COUNT(*) AS DOUBLE) AS m
         |  FROM ex GROUP BY cell, pos),
         | cent AS (SELECT cell, list(m ORDER BY pos) AS c_v
         |  FROM cm GROUP BY cell),
         | q AS (SELECT vec_id AS q_id, v AS q_v FROM e
         |   WHERE vec_id < $NumQueries),
         | pr AS (SELECT q_id, q_v, cell,
         |   ROW_NUMBER() OVER (PARTITION BY q_id
         |     ORDER BY list_cosine_similarity(q_v, c_v) DESC, cell ASC) AS rk
         |  FROM q CROSS JOIN cent),
         | probes AS (SELECT q_id, q_v, cell FROM pr WHERE rk <= 3),
         | s AS (SELECT p.q_id, e.vec_id,
         |   list_cosine_similarity(e.v, p.q_v) AS cos
         |  FROM e JOIN probes p ON e.label = p.cell AND e.vec_id <> p.q_id),
         | r AS (SELECT q_id, vec_id,
         |   CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |     ORDER BY cos DESC, vec_id ASC) AS INT) AS rank FROM s)
         |SELECT q_id, vec_id AS neighbor_id, rank FROM r
         |WHERE rank <= $K ORDER BY q_id, rank""".stripMargin,
    // Decision-row oracle: DuckDB recomputes the exact-result
    // cardinality and expects the recall@5 >= 0.8 verdict TRUE.
    "ann_ivf_kmeans" ->
      s"""$bruteforceCtes
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
         | true AS recall_ge_080
         |FROM r WHERE rank <= $K""".stripMargin,
    "ann_pq" ->
      s"""$bruteforceCtes
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
         | true AS recall_ge_080
         |FROM r WHERE rank <= $K""".stripMargin,
    "ann_ivfpq" ->
      s"""$bruteforceCtes
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
         | true AS recall_ge_080
         |FROM r WHERE rank <= $K""".stripMargin,
    "ann_sq" ->
      s"""$bruteforceCtes
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
         | true AS recall_ge_080
         |FROM r WHERE rank <= $K""".stripMargin)
}
