package graft.lakehouse

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One field of a table's partition spec — Iceberg's hidden
  * partitioning (ref: the reference's Iceberg tables partition with
  * transforms the engine, not the user, maintains;
  * `producer_iceberg_datalake_setup.sh:117-131` uses identity
  * `PARTITIONED BY (city)`, and the Iceberg engine underneath also
  * offers `year/month/day/bucket/truncate`). The user writes and
  * queries the RAW column; the table derives the partition value at
  * write time and maps raw-column predicates back onto partition
  * directories at plan time, so nobody ever inserts a redundant
  * "month" column or remembers to filter on it.
  *
  * Serialized forms (the manifest's `partcols` entries):
  * `colname` (identity), `year(col)`, `month(col)`, `day(col)`,
  * `bucket[N](col)`, `truncate[W](col)`.
  *
  * Temporal values render as zero-padded `yyyy[-MM[-dd]]` strings, so
  * their lexicographic order IS chronological order and range
  * predicates prune directories with plain string compares. Bucket
  * values are `pmod(xxhash64(col), N)` — the same expression Spark
  * evaluates distributed at write time is evaluated driver-side on
  * the predicate literal at prune time. Literal placement is
  * deliberately strict about types: a literal whose type does not
  * provably render and order like the directory value refuses to
  * prune (conservative keep) rather than risk dropping rows.
  */
sealed trait PartField {
  def col: String

  /** Serialized manifest form. */
  def render: String

  /** Human-readable name for metadata tables / derived dir columns. */
  def displayName: String

  /** The derived partition value as a Spark Column over the raw data.
    * `dt` is the raw column's type — bucket normalizes integral
    * columns to LONG before hashing so the driver-side literal hash
    * at prune time agrees with the distributed hash at write time
    * (xxhash64 of INT 7 and LONG 7 differ). */
  def toColumn(dt: DataType): Column

  /** The partition value a literal raw-column value falls into, plus
    * how rendered values compare for RANGE predicates: "n" = numeric,
    * "s" = lexicographic (valid because the rendering is
    * fixed-width/zero-padded or plain text), "x" = equality only.
    * None when this transform cannot place the literal — wrong type
    * family vs the column (`colDt`), unsupported type — in which
    * case pruning must keep the file. `zone` is the SESSION time
    * zone: write-time dirs come from `date_format`, which renders
    * TIMESTAMP instants in the session zone, so literal placement
    * must use the same zone or temporal pruning maps a literal to
    * the wrong directory (and a DELETE could silently keep matching
    * rows). Writer and reader sessions must agree on the zone, the
    * same contract as Hive's zoned-timestamp partitioning. */
  def ofLiteral(value: Any, dt: DataType, colDt: DataType,
      zone: java.time.ZoneId): Option[(String, String)]

  /** Whether the transform preserves ordering (so range predicates on
    * the raw column translate to range predicates on the partition
    * value). Bucket does not; equality still prunes there. */
  def monotonic: Boolean
}

object PartField {

  private[lakehouse] def isIntegral(dt: DataType) = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Raw column as the partition value (hive-style). Placement only
    * for type pairs whose rendering provably matches what the hive
    * writer put in the directory name: integral (numeric compare —
    * "10" < "2" lexicographically!), string (lexicographic), date
    * (ISO rendering, lexicographic == chronological). Timestamps,
    * floats and decimals refuse: their dir renderings are
    * formatter- and timezone-dependent. */
  final case class Identity(col: String) extends PartField {
    def render = col
    def displayName = col
    def toColumn(dt: DataType) = org.apache.spark.sql.functions.col(col)
    def monotonic = true

    def ofLiteral(value: Any, dt: DataType, colDt: DataType,
        zone: java.time.ZoneId) =
      (dt, colDt) match {
        case (a, b) if isIntegral(a) && isIntegral(b) =>
          Some((value.toString, "n"))
        case (StringType, StringType) => Some((value.toString, "s"))
        case (DateType, DateType) =>
          // DATE is zone-free: epoch-day renders the same everywhere
          Some((java.time.LocalDate.ofEpochDay(
            value.asInstanceOf[Number].longValue).toString, "s"))
        case _ => None
      }
  }

  /** year/month/day/hour truncation of a DATE/TIMESTAMP column
    * (hour refuses DATE columns — a date has no hour, Iceberg's
    * `hours` carries the same restriction; it is the granularity
    * streaming-ingest tables actually land at). All four render
    * zero-padded, so lexicographic order stays chronological and
    * range predicates prune with string compares. */
  final case class Temporal(unit: String, col: String) extends PartField {
    private val pattern = unit match {
      case "year"  => "yyyy"
      case "month" => "yyyy-MM"
      case "day"   => "yyyy-MM-dd"
      case "hour"  => "yyyy-MM-dd-HH"
    }
    def render = s"$unit($col)"
    def displayName = s"${unit}_$col"
    def toColumn(dt: DataType) = {
      require(!(unit == "hour" && dt == DateType),
        s"hour($col): a DATE column has no hour — partition by " +
          "day($col) instead (Iceberg's hours() carries the same " +
          "restriction)")
      date_format(org.apache.spark.sql.functions.col(col), pattern)
    }
    def monotonic = true

    def ofLiteral(value: Any, dt: DataType, colDt: DataType,
        zone: java.time.ZoneId): Option[(String, String)] = {
      val fmt = java.time.format.DateTimeFormatter.ofPattern(pattern)
      dt match {
        case DateType if unit == "hour" => None // un-placeable: no hour
        case DateType => // days since epoch, zone-free
          Some((java.time.LocalDate.ofEpochDay(
            value.asInstanceOf[Number].longValue).format(fmt), "s"))
        case TimestampType => // instant micros: render in the SESSION
          // zone, matching the write-time date_format() rendering —
          // a hardcoded UTC here maps literals to the wrong day/month
          // dir under any non-UTC session (and DML would no-op)
          Some((java.time.Instant.ofEpochSecond(
            Math.floorDiv(value.asInstanceOf[Number].longValue, 1000000L))
            .atZone(zone).toLocalDateTime.format(fmt), "s"))
        case TimestampNTZType => // wall-clock micros, zone-free
          Some((java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(value.asInstanceOf[Number].longValue, 1000000L),
            0, java.time.ZoneOffset.UTC).format(fmt), "s"))
        case _ => None
      }
    }
  }

  /** Hash bucket: `pmod(xxhash64(col), n)`. Only equality predicates
    * prune (hash order is meaningless — kind "x"). The literal must
    * be in the COLUMN's type family: a string literal against a
    * BIGINT column (Spark would coerce the comparison) hashes
    * differently than the long value, so it refuses to place. */
  final case class Bucket(n: Int, col: String) extends PartField {
    def render = s"bucket[$n]($col)"
    def displayName = s"bucket${n}_$col"
    def toColumn(dt: DataType) = {
      val c = org.apache.spark.sql.functions.col(col)
      val normalized = if (isIntegral(dt)) c.cast("long") else c
      pmod(xxhash64(normalized), lit(n.toLong)).cast("string")
    }
    def monotonic = false

    def ofLiteral(value: Any, dt: DataType, colDt: DataType,
        zone: java.time.ZoneId): Option[(String, String)] = {
      import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
      val normalized: Option[Literal] = (dt, colDt) match {
        case (a, b) if isIntegral(a) && isIntegral(b) =>
          Some(Literal(value.asInstanceOf[Number].longValue, LongType))
        case (StringType, StringType) => Some(Literal.create(value, dt))
        case _ => None
      }
      normalized.flatMap { l =>
        try {
          val h = new XxHash64(Seq(l)).eval(null).asInstanceOf[Long]
          Some((java.lang.Math.floorMod(h, n.toLong).toString, "x"))
        } catch { case scala.util.control.NonFatal(_) => None }
      }
    }
  }

  /** Leading-substring truncation of a STRING column. Monotonic, so
    * both equality and range predicates prune. */
  final case class Truncate(w: Int, col: String) extends PartField {
    def render = s"truncate[$w]($col)"
    def displayName = s"truncate${w}_$col"
    def toColumn(dt: DataType) =
      substring(org.apache.spark.sql.functions.col(col), 1, w)
    def monotonic = true

    def ofLiteral(value: Any, dt: DataType, colDt: DataType,
        zone: java.time.ZoneId): Option[(String, String)] = (dt, colDt) match {
      case (StringType, StringType) => Some((value.toString.take(w), "s"))
      case _                        => None
    }
  }

  private val WithParam = """^(bucket|truncate)\[(\d+)\]\((\w+)\)$""".r
  private val Plain     = """^(year|month|day|hour)\((\w+)\)$""".r

  /** Parse one `partcols` manifest entry / `partitionBy` argument. */
  def parse(s: String): PartField = s.trim match {
    case WithParam("bucket", n, c)   => Bucket(n.toInt, c)
    case WithParam("truncate", w, c) => Truncate(w.toInt, c)
    case Plain(unit, c)              => Temporal(unit, c)
    case name =>
      require(!name.contains("(") && name.nonEmpty,
        s"unsupported partition transform '$s' (supported: identity, " +
          "year(col), month(col), day(col), hour(col), bucket[n](col), " +
          "truncate[w](col))")
      Identity(name)
  }

  def parseAll(cols: Seq[String]): Seq[PartField] = cols.map(parse)

  /** True when every field is identity — the hive-style layout whose
    * partition values live only in directory names (reads parse them
    * from the manifest paths). Transform specs keep every raw column
    * in the data files, so their reads ignore directories entirely. */
  def allIdentity(cols: Seq[String]): Boolean =
    cols.forall(!_.contains("("))

  /** Directory-column name for field `i` of a transform spec. */
  def dirCol(i: Int): String = s"_gp_$i"

  private[lakehouse] val NullDir =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .DEFAULT_PARTITION_NAME

  /** Compare rendered partition values under kind `k`; None = not
    * comparable (unparseable numeric, non-ASCII strings — Spark
    * orders strings by UTF-8 bytes, Java by UTF-16 units) → keep. */
  private def cmpVals(k: String, a: String, b: String): Option[Int] =
    k match {
      case "n" =>
        try Some(BigDecimal(a).compare(BigDecimal(b)))
        catch { case _: NumberFormatException => None }
      case "s" if a.forall(_ < 128) && b.forall(_ < 128) =>
        Some(a.compareTo(b))
      case _ => None
    }

  /** Prune `files` to those whose partition directories could contain
    * a row matching `filterSql` — driver-side, manifest paths only.
    * `schema` supplies the raw column types so literal placement can
    * verify type families. Only AND-ed `col <op> literal` /
    * `col IN (…)` conjuncts prune; everything else is conservative.
    * All prunable conjuncts are null-rejecting, so a file in the
    * NULL partition (`__HIVE_DEFAULT_PARTITION__`) provably matches
    * none of them and is skipped outright. */
  def pruneFiles(spark: org.apache.spark.sql.SparkSession,
      spec: Seq[PartField], schema: StructType, files: Seq[String],
      filterSql: String): Seq[String] = {
    val parsed =
      try Some(spark.sessionState.sqlParser.parseExpression(filterSql))
      catch { case scala.util.control.NonFatal(_) => None }
    parsed.fold(files)(e => pruneFiles(spark, spec, schema, files, e))
  }

  /** [[pruneFiles]] over an already-built Catalyst expression —
    * callers holding a typed predicate (e.g. a runtime-pruning key
    * set) skip the SQL render/re-parse round-trip entirely. */
  def pruneFiles(spark: org.apache.spark.sql.SparkSession,
      spec: Seq[PartField], schema: StructType, files: Seq[String],
      filter: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[String] = {
    val conjuncts = extractConjuncts(filter)
    if (conjuncts.isEmpty) return files
    // the zone date_format() rendered TIMESTAMP dirs in at write time
    val zone = java.time.ZoneId.of(
      spark.sessionState.conf.sessionLocalTimeZone)
    val identityLayout = allIdentity(spec.map(_.render))
    val fields = spec.zipWithIndex.map { case (field, i) =>
      val dirName = if (identityLayout) field.col else dirCol(i)
      val colDt = schema.fields
        .find(_.name.equalsIgnoreCase(field.col)).map(_.dataType)
      (field, dirName, colDt,
        conjuncts.filter(_._1 == field.col.toLowerCase))
    }.filter(_._4.nonEmpty)
    if (fields.isEmpty) return files

    files.filter { f =>
      val segs = new org.apache.hadoop.fs.Path(f).toUri.getPath.split("/")
      fields.forall { case (field, dirName, colDt, preds) =>
        // LAST match: a table root path containing a look-alike
        // `<dir>=…` segment must not stand in for the file's own
        // layout directory (which sits under the commit dir)
        segs.findLast(_.startsWith(s"$dirName=")).forall { seg =>
          val dirVal = org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils
            .unescapePathName(seg.substring(dirName.length + 1))
          if (dirVal == NullDir) false // null-rejecting conjuncts
          else preds.forall { case (_, op, values, _) =>
            val placed = values.map { case (v, dt) =>
              colDt.flatMap(cd => field.ofLiteral(v, dt, cd, zone))
            }
            if (placed.exists(_.isEmpty)) true // cannot place → keep
            else op match {
              case "in" | "=" => placed.flatten.exists(_._1 == dirVal)
              case _ if field.monotonic =>
                val (pv, kind) = placed.head.get
                cmpVals(kind, dirVal, pv) match {
                  case None => true
                  // truncation is monotonic non-strict: a partition
                  // equal to the literal's partition may still hold
                  // matching rows, so bounds stay inclusive
                  case Some(c) => op match {
                    case "<" | "<=" => c <= 0
                    case ">" | ">=" => c >= 0
                    case _          => true
                  }
                }
              case _ => true // bucket + range, etc. → keep
            }
          }
        }
      }
    }
  }

  /** AND-ed prunable conjuncts of `filter` — `col <op> literal`
    * (one value) and `col IN (literals)` (op "in", all values) — with
    * raw literal values and types (for transform placement). The
    * fourth element disambiguates overloads only. */
  private def extractConjuncts(
      filter: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[(String, String, Seq[(Any, DataType)], Unit)] = {
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd,
      BinaryComparison, EqualTo => CEq, GreaterThan => CGt,
      GreaterThanOrEqual => CGe, In => CIn, LessThan => CLt,
      LessThanOrEqual => CLe, Literal => CLit}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute

    def walk(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[(String, String, Seq[(Any, DataType)], Unit)] = e match {
      case CAnd(l, r) => walk(l) ++ walk(r)
      case CIn(a: UnresolvedAttribute, vs)
          if vs.nonEmpty && vs.forall(_.isInstanceOf[CLit]) =>
        // NULLs in the list match nothing (IN is null-rejecting)
        val vals = vs.collect {
          case l: CLit if l.value != null => (l.value: Any, l.dataType)
        }
        if (vals.isEmpty) Nil
        else Seq((a.nameParts.last.toLowerCase, "in", vals, ()))
      case bc: BinaryComparison =>
        val op = bc match {
          case _: CEq => "="
          case _: CLt => "<"
          case _: CLe => "<="
          case _: CGt => ">"
          case _: CGe => ">="
          case _ => return Nil
        }
        def flip(o: String) = o match {
          case "<" => ">"; case "<=" => ">="
          case ">" => "<"; case ">=" => "<="
          case x => x
        }
        (bc.left, bc.right) match {
          case (a: UnresolvedAttribute, l: CLit) if l.value != null =>
            Seq((a.nameParts.last.toLowerCase, op,
              Seq((l.value, l.dataType)), ()))
          case (l: CLit, a: UnresolvedAttribute) if l.value != null =>
            Seq((a.nameParts.last.toLowerCase, flip(op),
              Seq((l.value, l.dataType)), ()))
          case _ => Nil
        }
      case _ => Nil
    }
    walk(filter)
  }
}
