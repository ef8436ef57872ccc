package graft.etl

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

import ManifestTable.FileEntry

/** The files of one table in one commit, as a Spark [[FileIndex]]: the
  * relation every non-merging [[ManifestTable]] read plans from
  * (Delta's `TahoeFileIndex` shape). Paths and sizes come from the
  * entries, so planning lists and stats nothing. [[listFiles]] keeps a
  * file unless one of Catalyst's resolved data-filter conjuncts
  * provably excludes it — [[FileSkipping]] is the one rule — and
  * [[PruneManifestFiles]] applies the same rule while optimizing, so
  * statistics and `Dataset.inputFiles` see only the kept files.
  *
  * Equal by (root, version, table, entries): two reads of one version
  * are `sameResult`, so the CacheManager serves one from the other. */
final case class ManifestFileIndex(root: String, version: Long, table: String,
                                   entries: Seq[FileEntry])(
    @transient spark: SparkSession) extends FileIndex {

  private lazy val files: Seq[(FileEntry, FileStatusWithMetadata)] = {
    val rootP = new HPath(root)
    entries.map { e =>
      val bytes = e.bytes.getOrElse(throw new IllegalArgumentException(
        s"manifest entry without a byte size: ${e.relPath}"))
      e -> FileStatusWithMetadata(new FileStatus(bytes, false, 0, 1L, 0L,
        new HPath(rootP, e.relPath)))
    }
  }

  /** The entries no conjunct of `filters` excludes. */
  private def kept(filters: Seq[Expression]): Seq[(FileEntry, FileStatusWithMetadata)] = {
    val skips = filters.flatMap(FileSkipping.skipsOf)
    if (skips.isEmpty) files
    else {
      lazy val fs = new HPath(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val bloomOf = (p: String) => ManifestTable.bloomFilterOf(fs, new HPath(root), p)
      files.filter { case (e, _) => skips.forall(_.keeps(e, bloomOf)) }
    }
  }

  /** This index narrowed to the files `filters` keep. */
  def pruned(filters: Seq[Expression]): ManifestFileIndex =
    ManifestFileIndex(root, version, table, kept(filters).map(_._1))(spark)

  override def rootPaths: Seq[HPath] = Seq(new HPath(new HPath(root), table))
  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, kept(dataFilters).map(_._2)))
  override def inputFiles: Array[String] = files.map(_._2.getPath.toString).toArray
  override def refresh(): Unit = () // a commit's file list never changes
  override def sizeInBytes: Long = entries.flatMap(_.bytes).sum
  override def partitionSchema: StructType = new StructType()
  override lazy val hashCode: Int = (root, version, table, entries).##
  override def toString: String =
    s"ManifestFileIndex($root, v$version, $table, ${entries.size} files)"
}

object ManifestFileIndex extends AdaptiveSparkPlanHelper {

  /** (files kept, files held) by `df`'s manifest reads: kept counts
    * the files its executed scans open (none for a read the optimizer
    * emptied), held the files its analyzed reads list. */
  def filesKept(df: DataFrame): (Long, Long) = {
    val held = df.queryExecution.analyzed.collect {
      case LogicalRelation(HadoopFsRelation(m: ManifestFileIndex, _, _, _, _, _), _, _, _, _) =>
        m.entries.size.toLong
    }
    val kept = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.relation.location.isInstanceOf[ManifestFileIndex] =>
        s.selectedPartitions.totalNumberOfFiles
    }
    (kept.sum, held.sum)
  }

  /** The files the skip rule keeps for the filter `df` puts straight over
    * one manifest read, judged on the resolved predicate — before the
    * optimizer proves anything more (a discovery's narrowing). */
  private[etl] def keptByFilter(df: DataFrame): Seq[FileEntry] =
    df.queryExecution.analyzed match {
      case Filter(cond, LogicalRelation(
          HadoopFsRelation(m: ManifestFileIndex, _, _, _, _, _), _, _, _, _)) =>
        m.pruned(Seq(cond)).entries
      case p => throw new IllegalArgumentException(s"not a filtered manifest read: $p")
    }
}

/** The optimizer half of [[FileSkipping]]: a filter straight over a
  * manifest relation narrows the relation's index to the files it keeps
  * (Spark's `PruneFileSourcePartitions` shape), and a read no file
  * survives becomes an empty relation that runs no job. */
object PruneManifestFiles extends Rule[LogicalPlan] {
  def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, l @ LogicalRelation(
        r @ HadoopFsRelation(m: ManifestFileIndex, _, _, _, _, _), _, _, _, _)) =>
      val p = m.pruned(Seq(cond))
      if (p.entries.size == m.entries.size) f
      else if (p.entries.isEmpty) LocalRelation(f.output)
      else f.copy(child = l.copy(relation = r.copy(location = p)(r.sparkSession)))
  }
}

/** The one file-skipping rule. A file is skipped only when a conjunct
  * provably holds for none of its rows:
  *  - a range or equality bound on the exact value the writer recorded
  *    min/max for skips by that range. That value is the canonical long
  *    `ManifestTable.canonLongExpr` builds for a number, DATE or
  *    TIMESTAMP column (`cast(c AS long)`, `unix_date(c)` for DATE), or
  *    the bare column where that map is the identity (integral, DATE,
  *    scale-0 DECIMAL) or monotone and total (TIMESTAMP seconds, DECIMAL
  *    truncation, `cast(c AS double)` of an integral `c` below 2^53);
  *  - `=` / `IN` on a bloom-inserted form — `cast(c AS string)`, or the
  *    long form of an integral or DATE `c` — skips by the file's filter;
  *  - any other conjunct skips nothing.
  * Conjuncts arrive resolved and type-coerced, so the subject's type is
  * the comparison's type and a literal is one value of it. */
private[etl] object FileSkipping {

  /** One conjunct's test of one file: false only when no row of the file
    * can satisfy it. Files without metadata on the column are kept. */
  sealed trait Skip {
    def keeps(e: FileEntry, bloomOf: String => BloomFilter): Boolean
  }
  final case class InRange(c: String, lo: Long, hi: Long) extends Skip {
    def keeps(e: FileEntry, bloomOf: String => BloomFilter): Boolean =
      e.statsFor(c).forall { case (mn, mx) => mx >= lo && mn <= hi }
  }
  /** Some of the sorted `points` lies in the file's range. */
  final case class AnyPoint(c: String, points: Array[Long]) extends Skip {
    def keeps(e: FileEntry, bloomOf: String => BloomFilter): Boolean =
      e.statsFor(c).forall { case (mn, mx) =>
        val i = java.util.Arrays.binarySearch(points, mn)
        val from = if (i >= 0) i else -i - 1
        from < points.length && points(from) <= mx
      }
  }
  final case class AnyKey(c: String, keys: Seq[Array[Byte]]) extends Skip {
    def keeps(e: FileEntry, bloomOf: String => BloomFilter): Boolean =
      e.bloomFor(c).forall { p =>
        val bf = bloomOf(p)
        keys.exists(bf.mightContainBinary)
      }
  }

  /** A constant operand (a literal, or a resolved plan's not yet folded
    * cast of one) and its value. Only literal leaves count: a foldable
    * `current_timestamp()` is fixed later, at optimization. */
  private object Const {
    def unapply(e: Expression): Option[Any] =
      if (e.foldable && e.collectLeaves().forall(_.isInstanceOf[Literal]))
        scala.util.Try(e.eval()).toOption
      else None
  }

  def skipsOf(conjunct: Expression): Seq[Skip] = conjunct match {
    case And(l, r) => skipsOf(l) ++ skipsOf(r)
    case EqualTo(s, Const(v)) => points(s, Seq(v))
    case EqualTo(Const(v), s) => points(s, Seq(v))
    case EqualNullSafe(s, Const(v)) if v != null => points(s, Seq(v))
    case EqualNullSafe(Const(v), s) if v != null => points(s, Seq(v))
    case In(s, list) if list.forall(Const.unapply(_).isDefined) =>
      points(s, list.flatMap(Const.unapply))
    case InSet(s, set) => points(s, set.toSeq)
    case GreaterThanOrEqual(s, Const(v)) => bound(s, v, lower = true, strict = false)
    case GreaterThan(s, Const(v)) => bound(s, v, lower = true, strict = true)
    case LessThanOrEqual(s, Const(v)) => bound(s, v, lower = false, strict = false)
    case LessThan(s, Const(v)) => bound(s, v, lower = false, strict = true)
    case GreaterThanOrEqual(Const(v), s) => bound(s, v, lower = false, strict = false)
    case GreaterThan(Const(v), s) => bound(s, v, lower = false, strict = true)
    case LessThanOrEqual(Const(v), s) => bound(s, v, lower = true, strict = false)
    case LessThan(Const(v), s) => bound(s, v, lower = true, strict = true)
    case _ => Nil
  }

  /** How a subject's value maps onto column `c`'s recorded long. */
  private sealed trait Kind
  /** The recorded long itself: an integral, DATE or scale-0 DECIMAL
    * column, or the exact stats expression of any other column. */
  private case object Exact extends Kind
  /** A column whose recorded long is a monotone, total map `f` of its
    * value: TIMESTAMP (epoch seconds), DECIMAL (truncation). */
  private final case class Monotone(f: Any => Option[Long]) extends Kind
  /** `cast(c AS double)` of an integral column. */
  private case object AsDouble extends Kind

  private val seconds = Monotone {
    case micros: java.lang.Long => Some(Math.floorDiv(micros.longValue, 1000000L))
    case _ => None
  }
  private val truncated = Monotone {
    case d: Decimal => Some(d.toLong)
    case _ => None
  }

  private def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** (column, kind, own) for a subject that determines column `c`'s
    * recorded long; `own` marks the column's own integral, DATE or
    * scale-0 DECIMAL value, whose long form every bloom on `c` holds. */
  private def canonical(s: Expression): Option[(String, Kind, Boolean)] = s match {
    case a: AttributeReference => a.dataType match {
      case t if integral(t) || t == DateType => Some((a.name, Exact, true))
      case TimestampType => Some((a.name, seconds, false))
      // the integer part of a DECIMAL(p, s) with p - s <= 18 fits a long
      case d: DecimalType if d.precision - d.scale <= 18 =>
        Some((a.name, if (d.scale == 0) Exact else truncated, d.scale == 0))
      case _ => None
    }
    case Cast(x, t, _, _) if integral(t) && integral(x.dataType) &&
        x.dataType.defaultSize <= t.defaultSize => canonical(x)
    case UnixDate(a: AttributeReference) => Some((a.name, Exact, true))
    case Cast(UnixDate(a: AttributeReference), LongType, _, _) => Some((a.name, Exact, true))
    // the exact stats expression of any other number or TIMESTAMP; a
    // STRING's long cast parses differently per cast mode (the legacy
    // cast reads "4.00" as 4, ANSI rejects it), so no string qualifies
    case Cast(a: AttributeReference, LongType, _, _)
        if a.dataType.isInstanceOf[NumericType] || a.dataType == TimestampType =>
      Some((a.name, Exact, false))
    case Cast(x, DoubleType, _, _) if integral(x.dataType) =>
      canonical(x).collect { case (c, Exact, true) => (c, AsDouble, true) }
    case _ => None
  }

  private val TwoP53 = 9007199254740992.0

  private def exactLong(v: Any): Option[Long] = v match {
    case n: java.lang.Long => Some(n.longValue)
    case n: java.lang.Integer => Some(n.longValue)
    case n: java.lang.Short => Some(n.longValue)
    case n: java.lang.Byte => Some(n.longValue)
    case d: Decimal if d.scale == 0 => Some(d.toLong)
    case _ => None
  }

  /** The recorded long an equality with literal `v` pins. */
  private def pointOf(k: Kind, v: Any): Option[Long] = k match {
    case Exact => exactLong(v)
    case Monotone(f) => f(v)
    case AsDouble => v match {
      case d: java.lang.Double if d == math.floor(d) && math.abs(d) < TwoP53 =>
        Some(d.longValue)
      case _ => None // a fractional literal is matched by no row: no claim
    }
  }

  /** The bound on the recorded long a comparison with `v` implies. */
  private def boundOf(k: Kind, v: Any, lower: Boolean, strict: Boolean): Option[Long] =
    k match {
      case Exact => exactLong(v).flatMap { l =>
        if (!strict) Some(l)
        else if (lower) Option.when(l < Long.MaxValue)(l + 1)
        else Option.when(l > Long.MinValue)(l - 1)
      }
      case Monotone(f) => f(v) // x >= v gives f(x) >= f(v), likewise <=
      case AsDouble => v match {
        case d: java.lang.Double if !d.isNaN && math.abs(d) < TwoP53 =>
          Some((if (lower) { if (strict) math.floor(d) + 1 else math.ceil(d) }
                else { if (strict) math.ceil(d) - 1 else math.floor(d) }).toLong)
        case _ => None
      }
    }

  private def bound(s: Expression, v: Any, lower: Boolean, strict: Boolean): Seq[Skip] =
    canonical(s).toSeq.flatMap { case (c, k, _) =>
      boundOf(k, v, lower, strict).map(b =>
        if (lower) InRange(c, b, Long.MaxValue) else InRange(c, Long.MinValue, b))
    }

  /** Bloom key of `v` for subject `s`: the literal string of a
    * `cast(c AS string)` form (a timezone-free cast), or the long form
    * of the column's own integral/DATE value. */
  private def bloomForm(s: Expression): Option[(String, Any => Option[Array[Byte]])] = {
    val utf8: Any => Option[Array[Byte]] = {
      case u: UTF8String => Some(u.getBytes)
      case _ => None
    }
    s match {
      case a: AttributeReference if a.dataType == StringType => Some(a.name -> utf8)
      case Cast(a: AttributeReference, StringType, _, _) if a.dataType != TimestampType =>
        Some(a.name -> utf8)
      case _ => canonical(s).collect { case (c, k, true) =>
        c -> ((v: Any) => pointOf(k, v).map(ManifestTable.bloomKeyBytes)) }
    }
  }

  /** Skips for `s` equal to one of `vs`; null members match nothing.
    * A member the rule cannot render voids that skip: testing a subset
    * would drop files holding the rest. */
  private def points(s: Expression, vs: Seq[Any]): Seq[Skip] = {
    val live = vs.filter(_ != null)
    if (live.isEmpty) Nil
    else {
      val ranged = canonical(s).flatMap { case (c, k, _) =>
        val ls = live.map(pointOf(k, _))
        Option.when(ls.forall(_.isDefined))(AnyPoint(c, ls.flatten.toArray.sorted))
      }
      val bloomed = bloomForm(s).flatMap { case (c, key) =>
        val ks = live.map(key)
        Option.when(ks.forall(_.isDefined))(AnyKey(c, ks.flatten))
      }
      ranged.toSeq ++ bloomed
    }
  }
}
