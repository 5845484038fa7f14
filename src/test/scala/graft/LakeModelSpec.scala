package graft

import java.nio.file.Files

import org.scalacheck.{Gen, Prop, Shrink, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.lakehouse.{GraftTable, LakeRegistry}

/** Model-based checks of merge-on-read DML and compaction: random
  * sequences of INSERT, MERGE, UPDATE, DELETE, OPTIMIZE, OPTIMIZE
  * REWRITE DELETES and RESTORE (a rollback to a snapshot the run
  * committed earlier) run as SQL against a merge-on-read table (one per
  * delete style) and a copy-on-write twin, and every state is compared
  * with an in-memory multiset model: the live read, the `table_changes`
  * feed of each step and of the whole run, and `VERSION AS OF` every
  * snapshot the run committed. With row lineage on, the lineage read
  * and `table_changes_lineage` are checked too. Seeds are fixed, so a
  * run is reproducible; a failing sequence shrinks to a short
  * counterexample. */
class LakeModelSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._
  import LakeModelSpec._

  /** A table named `name` holding `rows`, partitioned by `p`, with
    * `props` set before the rows commit (so a lineage table assigns
    * row ids to them). */
  private def create(name: String, rows: Seq[Row], props: Map[String, String]): GraftTable = {
    val df = rows.toDF("k", "p", "v")
    val t = GraftTable.createEmpty(spark,
      Files.createTempDirectory("graft_model").toString, df.schema, Seq("p"))
    if (props.nonEmpty) t.setProperties(props)
    t.append(df)
    LakeRegistry.register(name, t)
    t
  }

  private def rowsOf(name: String, asOf: String = ""): Seq[Row] =
    spark.sql(s"SELECT k, p, v FROM $name$asOf").as[Row].collect().toSeq.sorted

  /** `rows` of a change feed split into (inserted, deleted, updated)
    * images, each sorted. */
  private def feed(tvf: String, name: String, from: Long,
      to: Long): Map[String, Seq[Row]] =
    spark.sql(s"SELECT k, p, v, _change_type FROM $tvf('$name', $from, $to)")
      .as[(Option[Long], Option[String], Int, String)].collect().toSeq
      .groupBy(_._4).map { case (c, rs) => c -> rs.map(r => (r._1, r._2, r._3)).sorted }
      .withDefaultValue(Nil)

  /** `table_changes(from, to)` nets to the multiset difference of the
    * model states at the two snapshots. */
  private def checkFeed(name: String, from: Long, to: Long,
      before: Seq[Row], after: Seq[Row], where: String): Unit = {
    val f = feed("table_changes", name, from, to)
    assert(f("insert") == after.diff(before).sorted,
      s"$where: $name table_changes($from, $to) inserts")
    assert(f("delete") == before.diff(after).sorted,
      s"$where: $name table_changes($from, $to) deletes")
    assert(f.keySet.subsetOf(Set("insert", "delete")), s"$where: ${f.keySet}")
  }

  /** The lineage read equals the model with unique `_row_id`s, and the
    * step's `table_changes_lineage` nets to the model's size delta with
    * every post-image in the next model. */
  private def checkLineage(name: String, t: GraftTable, from: Long,
      before: Seq[Row], after: Seq[Row], where: String): Unit = {
    val lin = t.readLineage().select("k", "p", "v", "_row_id")
      .as[(Option[Long], Option[String], Int, Long)].collect().toSeq
    assert(lin.map(r => (r._1, r._2, r._3)).sorted == after,
      s"$where: $name readLineage() != model")
    assert(lin.map(_._4).distinct.size == lin.size,
      s"$where: $name readLineage() repeats a _row_id")
    val f = feed("table_changes_lineage", name, from, t.currentSnapshotId)
    assert(f("insert").size - f("delete").size == after.size - before.size,
      s"$where: $name table_changes_lineage sizes $f")
    assert((f("insert") ++ f("update")).diff(after).isEmpty,
      s"$where: $name table_changes_lineage post-images not in the model: $f")
  }

  /** The statement `op` runs on table `name`; a rollback restores
    * snapshot `restore`. */
  private def sql(op: Op, name: String, src: String, restore: Long): String = op match {
    case Insert(_) => s"INSERT INTO $name SELECT k, p, v FROM $src"
    case m: Merge =>
      val matched =
        if (m.insertOnly) ""
        else (if (m.deleteLow) "WHEN MATCHED AND s.v < 10 THEN DELETE " else "") +
          s"WHEN MATCHED${if (m.updateHigh) " AND s.v > 50" else ""} THEN UPDATE SET * "
      s"MERGE INTO $name t USING $src s ON t.k = s.k $matched" +
        s"WHEN NOT MATCHED${if (m.insertEven) " AND s.v % 2 = 0" else ""} THEN INSERT *"
    case Update(lo, hi, d) =>
      s"UPDATE $name SET v = v + $d WHERE k >= $lo AND k < $hi"
    case Delete(lo, hi) => s"DELETE FROM $name WHERE k >= $lo AND k < $hi"
    case Optimize(files) =>
      s"OPTIMIZE $name${files.fold("")(n => s" FILES $n")}"
    case RewriteDeletes => s"OPTIMIZE $name REWRITE DELETES"
    case Rollback(_) => s"RESTORE TABLE $name TO VERSION AS OF $restore"
  }

  /** Run `sc` under `style`, with row lineage on the merge-on-read
    * table when `lineage`; throws on the first divergence. */
  private def run(style: String, sc: Scenario, n: Int,
      lineage: Boolean = false): Unit = {
    val tag = if (lineage) s"${style}_lineage" else style
    val mor = s"model_${tag}_$n"
    val cow = s"model_${tag}_${n}_cow"
    val morT = create(mor, sc.initial, Map(
      "write.delete.mode" -> "merge-on-read",
      "write.update.mode" -> "merge-on-read",
      "write.merge.mode" -> "merge-on-read",
      "write.delete.style" -> style) ++
      (if (lineage) Map(GraftTable.RowLineageProp -> "true") else Map.empty))
    val cowT = create(cow, sc.initial, Map.empty)
    val tables = Seq(mor -> morT, cow -> cowT)
    val first = tables.map(_._2.currentSnapshotId)
    var model = sc.initial.sorted
    // the model at every snapshot the run committed, per table, and
    // after every step (each table's snapshot id, then the model)
    val states = scala.collection.mutable.Map[(String, Long), Seq[Row]]()
    val steps = scala.collection.mutable.ArrayBuffer[(Seq[Long], Seq[Row])]()
    def record(): Unit = {
      for ((name, t) <- tables) states((name, t.currentSnapshotId)) = model
      steps += (tables.map(_._2.currentSnapshotId) -> model)
    }
    record()
    try sc.ops.zipWithIndex.foreach { case (op, i) =>
      val src = s"model_src_${style}_${n}_$i"
      val rows = op match {
        case Insert(r) => r
        case m: Merge => m.source
        case _ => Nil
      }
      rows.toDF("k", "p", "v").createOrReplaceTempView(src)
      val where = s"step $i ($op) under $style"
      // a rollback goes `back` steps back: each table restores its
      // snapshot of that step, and the model takes that step's state
      val (restore, outcome) = op match {
        case Rollback(back) =>
          val (ids, state) = steps(math.max(0, steps.size - 1 - back))
          (ids, Some(state))
        case _ => (tables.map(_ => 0L), expected(model, op))
      }
      outcome match {
        case None =>
          for (((name, t), r) <- tables.zip(restore)) {
            val before = t.currentSnapshotId
            val e = intercept[IllegalArgumentException](spark.sql(sql(op, name, src, r)))
            assert(e.getMessage.contains("duplicate"), s"$where: ${e.getMessage}")
            assert(t.currentSnapshotId == before, s"$where: a refused MERGE committed")
          }
        case Some(next) =>
          val prev = tables.map(_._2.currentSnapshot)
          for (((name, _), r) <- tables.zip(restore)) spark.sql(sql(op, name, src, r))
          assert(rowsOf(mor) == next, s"$where: merge-on-read table != model")
          assert(rowsOf(cow) == next, s"$where: copy-on-write twin != model")
          // OPTIMIZE leaves the model unchanged, so its feed must be empty
          for (((name, t), p) <- tables.zip(prev))
            checkFeed(name, p.id, t.currentSnapshotId, model, next, where)
          if (lineage) checkLineage(mor, morT, prev.head.id, model, next, where)
          op match {
            case Optimize(files) =>
              val n = files.getOrElse(1)
              val values = next.map(_._2).distinct.size
              for ((_, t) <- tables)
                assert(t.currentSnapshot.files.size <= math.max(n, values),
                  s"$where: ${t.currentSnapshot.files.size} files > max($n, $values)")
            case RewriteDeletes =>
              for (((name, t), p) <- tables.zip(prev))
                assert(t.currentSnapshot.files == p.files,
                  s"$where: $name REWRITE DELETES changed the data files")
            case Rollback(_) =>
              for (((name, t), r) <- tables.zip(restore))
                assert(t.currentSnapshot.files == t.snapshot(r).files,
                  s"$where: $name RESTORE did not restore the files of $r")
            case _ => ()
          }
          model = next
          record()
      }
      spark.catalog.dropTempView(src)
      for (((name, t), f) <- tables.zip(first))
        checkFeed(name, f, t.currentSnapshotId, sc.initial.sorted, model,
          s"whole run under $tag")
      for (((name, id), rows) <- states)
        assert(rowsOf(name, s" VERSION AS OF $id") == rows,
          s"$name VERSION AS OF $id != model under $tag")
    } finally {
      LakeRegistry.unregister(mor)
      LakeRegistry.unregister(cow)
    }
  }

  private def check(style: String, seed: Long, lineage: Boolean): Unit = {
    var n = 0
    val prop = Prop.forAll(scenarioGen) { sc =>
      n += 1
      run(style, sc, n, lineage)
      true
    }
    val res = Test.check(Test.Parameters.default
      .withInitialSeed(Seed(seed))
      .withMinSuccessfulTests(5)
      .withWorkers(1), prop)
    assert(res.passed, Pretty.pretty(res, Pretty.Params(2)))
  }

  for ((style, seed) <- Seq("equality" -> 11L, "position" -> 23L, "vector" -> 37L))
    test(s"random DML and OPTIMIZE sequences agree with the model and a " +
        s"copy-on-write twin ($style deletes)") {
      check(style, seed, lineage = false)
    }

  for ((style, seed) <- Seq("position" -> 41L, "vector" -> 43L))
    test(s"row lineage under random DML and OPTIMIZE: unique row ids and a " +
        s"lineage feed that agrees with the model ($style deletes)") {
      check(style, seed, lineage = true)
    }
}

object LakeModelSpec {
  type Row = (Option[Long], Option[String], Int)

  sealed trait Op
  final case class Insert(rows: Seq[Row]) extends Op
  /** `WHEN MATCHED [AND s.v < 10 THEN DELETE] WHEN MATCHED [AND s.v > 50]
    * THEN UPDATE SET * WHEN NOT MATCHED [AND s.v % 2 = 0] THEN INSERT *`,
    * or the insert clause alone. */
  final case class Merge(source: Seq[Row], insertOnly: Boolean,
      deleteLow: Boolean, updateHigh: Boolean, insertEven: Boolean) extends Op
  final case class Update(lo: Long, hi: Long, delta: Int) extends Op
  final case class Delete(lo: Long, hi: Long) extends Op
  final case class Optimize(files: Option[Int]) extends Op
  case object RewriteDeletes extends Op
  /** `RESTORE TABLE t TO VERSION AS OF <id>`, `id` the snapshot the
    * table held `back` steps earlier (the first when the run is
    * shorter). */
  final case class Rollback(back: Int) extends Op

  final case class Scenario(initial: Seq[Row], ops: Seq[Op])

  /** The table after `op`, or None when the MERGE must refuse (two
    * source rows match one live target row). A [[Rollback]] takes a
    * state the run recorded, so it is not modelled here. */
  def expected(rows: Seq[Row], op: Op): Option[Seq[Row]] = op match {
    case Insert(r) => Some((rows ++ r).sorted)
    case Update(lo, hi, d) => Some(rows.map {
      case (Some(k), p, v) if k >= lo && k < hi => (Some(k), p, v + d)
      case r => r
    }.sorted)
    case Delete(lo, hi) =>
      Some(rows.filterNot { case (k, _, _) => k.exists(x => x >= lo && x < hi) }.sorted)
    case Optimize(_) | RewriteDeletes => Some(rows)
    case Rollback(_) => throw new IllegalArgumentException("a rollback restores a recorded state")
    case m: Merge =>
      def matches(k: Option[Long]) = m.source.filter(s => k.isDefined && s._1 == k)
      val dup = !m.insertOnly && rows.exists(r => matches(r._1).size > 1)
      if (dup) None
      else {
        val kept = rows.flatMap { r =>
          matches(r._1).headOption match {
            case Some(s) if !m.insertOnly =>
              if (m.deleteLow && s._3 < 10) Nil
              else if (!m.updateHigh || s._3 > 50) Seq(s)
              else Seq(r)
            case _ => Seq(r)
          }
        }
        val targetKeys = rows.flatMap(_._1).toSet
        val inserted = m.source.filter(s =>
          !s._1.exists(targetKeys) && (!m.insertEven || s._3 % 2 == 0))
        Some((kept ++ inserted).sorted)
      }
  }

  private val rowGen: Gen[Row] = for {
    k <- Gen.frequency(1 -> Gen.const(None), 9 -> Gen.choose(0L, 11L).map(Some(_)))
    p <- Gen.frequency(1 -> Gen.const(None),
      6 -> Gen.oneOf("a", "b", "c").map(Some(_)))
    v <- Gen.choose(0, 99)
  } yield (k, p, v)

  private def rowsGen(max: Int): Gen[Seq[Row]] =
    Gen.choose(1, max).flatMap(n => Gen.listOfN(n, rowGen))

  private val rangeGen: Gen[(Long, Long)] = for {
    lo <- Gen.choose(0L, 10L)
    w <- Gen.choose(1L, 5L)
  } yield (lo, lo + w)

  /** Merge sources mostly carry distinct keys; some repeat one. */
  private val sourceGen: Gen[Seq[Row]] = Gen.frequency(
    4 -> rowsGen(5).map(_.groupBy(_._1).values.map(_.head).toSeq
      .sortBy(_._1)),
    1 -> rowsGen(5))

  private val opGen: Gen[Op] = Gen.frequency(
    2 -> rowsGen(4).map(Insert(_)),
    4 -> (for {
      src <- sourceGen
      insertOnly <- Gen.frequency(1 -> true, 3 -> false)
      deleteLow <- Gen.oneOf(true, false)
      updateHigh <- Gen.oneOf(true, false)
      insertEven <- Gen.oneOf(true, false)
    } yield Merge(src, insertOnly, deleteLow, updateHigh, insertEven)),
    2 -> (for ((lo, hi) <- rangeGen; d <- Gen.choose(1, 9)) yield Update(lo, hi, d)),
    2 -> rangeGen.map { case (lo, hi) => Delete(lo, hi) },
    1 -> Gen.oneOf(None, Some(1), Some(2), Some(5)).map(Optimize(_)),
    1 -> Gen.const(RewriteDeletes),
    1 -> Gen.choose(1, 3).map(Rollback(_)))

  /** A failing scenario shrinks by dropping operations. */
  implicit val shrinkScenario: Shrink[Scenario] = Shrink.withLazyList { sc =>
    Shrink.shrink(sc.ops.toList).map(ops => sc.copy(ops = ops)).to(LazyList)
  }

  val scenarioGen: Gen[Scenario] = for {
    initial <- rowsGen(8)
    n <- Gen.choose(3, 6)
    ops <- Gen.listOfN(n, opGen)
  } yield Scenario(initial, ops)
}
