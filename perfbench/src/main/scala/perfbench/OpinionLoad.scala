package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{ManifestTable, OpinionPipeline}
import graft.sources.CsvSources

/** The paper's own workload: six reference-shaped CSVs loaded into the
  * nine-table star through the constraint-gated publish, then a fixed set
  * of year-range reports read back through manifest pruning. */
final class OpinionLoad(sizes: Gen.OpinionSizes) extends Workload {
  val name = "opinion_star_load"

  private var csvDir: File = _
  private var tablesDir: File = _
  private var truth: Gen.OpinionTruth = _
  private val warmDigests = mutable.Map.empty[String, Long]
  private val spaceAmps = mutable.ArrayBuffer.empty[Double]
  private val liveFiles = mutable.ArrayBuffer.empty[Double]
  private val scanFiles = mutable.ArrayBuffer.empty[Double]
  private val commitObjects = mutable.ArrayBuffer.empty[Double]

  val Tables: Seq[String] = Seq("clientes", "productos", "categorias", "clasificaciones",
    "fuentes", "registrocargas", "comentarios", "encuestas", "webreviews")

  /** After one warm-up the next pass's calls took about 25% more CPU
    * than later passes, after two about 15% more; a third would not fit
    * the run's time budget. */
  override def warmups: Int = 2

  def generate(dir: File, seed: Long): Unit = {
    csvDir = new File(dir, "csv")
    tablesDir = new File(dir, "tables")
    truth = Gen.opinion(csvDir, seed, sizes)
  }

  /** Order-independent content digest per published table: row count and
    * the sum of a 32-bit row hash over all columns. */
  private def digests(spark: SparkSession, root: String): Map[String, (Long, Long)] =
    Tables.map { t =>
      val df = ManifestTable.read(spark, root, t)
      df.select(lit(t).as("t"), xxhash64(df.columns.map(col): _*).bitwiseAND(lit(0xFFFFFFFFL)).as("h"))
    }.reduce(_ union _).groupBy("t").agg(count(lit(1)), sum("h")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  private def rowsDigest(rows: Array[org.apache.spark.sql.Row]): Long =
    rows.map(_.toString).sorted.mkString("\n").hashCode.toLong

  /** Year-range reports over the published star: fact scans pruned on
    * `anio`, joined to their dimensions, aggregated and collected. */
  private def reports(spark: SparkSession, root: String): Seq[(String, () => DataFrame)] = {
    def fact(t: String, lo: Long, hi: Long) = ManifestTable.readPruned(spark, root, t, "anio", lo, hi)
    def dim(t: String) = ManifestTable.read(spark, root, t)
    Seq(
      "comentarios_2023_by_red" -> (() => fact("comentarios", 2023, 2023)
        .join(dim("fuentes"), "IdFuente").groupBy("Nombre").count()),
      "encuestas_2024_by_clasificacion" -> (() => fact("encuestas", 2024, 2024)
        .join(dim("clasificaciones"), "IdClasificacion")
        .groupBy("Nombre").agg(count(lit(1)), round(avg("PuntajeSatisfaccion"), 6))),
      "webreviews_2026_by_categoria" -> (() => fact("webreviews", 2026, 2026)
        .join(dim("productos").select("IdProducto", "IdCategoria"), "IdProducto")
        .join(dim("categorias"), "IdCategoria")
        .groupBy("Nombre").agg(count(lit(1)), round(avg("Rating"), 6))),
      "webreviews_2024_2025_clients" -> (() => fact("webreviews", 2024, 2025)
        .join(dim("clientes").select("IdCliente"), "IdCliente")
        .agg(countDistinct("IdCliente"))))
  }

  def pass(ctx: PassCtx): Long = {
    val spark = ctx.spark
    val rootDir = new File(tablesDir, s"star-${ctx.index + 1}")
    val root = rootDir.getAbsolutePath
    val traced = ctx.tr.isDefined
    val before = if (traced) Files.listing(rootDir) else Map.empty[String, Long]
    val version = ctx.ops.run("commit", ctx.timed) {
      val srcs = ctx.span("CsvSources.readAll")(CsvSources.readAll(spark, csvDir.getAbsolutePath))
      val out = ctx.span("OpinionPipeline.transform")(OpinionPipeline.transform(spark,
        srcs("clients"), srcs("products"), srcs("fuente_datos"),
        srcs("social_comments"), srcs("surveys"), srcs("web_reviews")))
      ctx.span("OpinionPipeline.runChecked")(OpinionPipeline.runChecked(spark, out, root))
    }(v => if (v >= 1) None else Some(s"runChecked returned version $v"))
    if (traced) commitObjects += (Files.listing(rootDir).keySet -- before.keySet).size
    if (version.isEmpty) return 0L

    val commit = ctx.ops.run("resolve", ctx.timed)(
      ctx.span("ManifestTable.current")(ManifestTable.current(spark, root)))(c =>
      if (c.exists(_.version == version.get)) None else Some("current() missed the publish"))
    commit.flatten.foreach { c =>
      val bytes = c.entries.map(e => new File(rootDir, e.relPath).length()).sum
      spaceAmps += bytes.toDouble / truth.sourceBytes
      liveFiles += c.entries.size
    }

    // published content: row counts against ground truth, digests
    // against the warm-up pass (all nine tables in one job)
    val star = digests(spark, root)
    Tables.foreach { t =>
      val (n, h) = star.getOrElse(t, (0L, 0L))
      val want = truth.tableRows(t)
      ctx.ops.run("check", timed = false)(()) { _ =>
        if (n != want) Some(s"$t has $n rows, expected $want")
        else if (ctx.warm) { warmDigests(t) = h; None }
        else if (warmDigests.get(t).contains(h)) None
        else Some(s"$t content digest differs from the warm-up pass")
      }
    }

    reports(spark, root).foreach { case (q, mk) =>
      val rows = ctx.ops.run("scan", ctx.timed) {
        ctx.span(s"report.$q") {
          val df = mk()
          if (traced) scanFiles += df.inputFiles.length
          df.collect()
        }
      }(rs => if (rs.isEmpty) Some(s"report $q returned no rows") else None)
      rows.foreach { rs =>
        val h = rowsDigest(rs)
        ctx.ops.run("check", timed = false)(()) { _ =>
          if (ctx.warm) { warmDigests(q) = h; None }
          else if (warmDigests.get(q).contains(h)) None
          else Some(s"report $q differs from the warm-up pass")
        }
      }
    }
    Files.delete(rootDir)
    truth.sourceRows
  }

  def release(): Unit = truth = null

  def metrics(ops: Ops, spark: SparkSession): Map[String, Metric] = Map(
    "scan.p50_ms" -> Metric(Stats.median(ops.ms("scan")), "ms"),
    "space_amp" -> Metric(Stats.median(spaceAmps.toSeq), "ratio"))

  def layers(tr: Tracer, traced: Seq[Span], ops: Ops): Map[String, Double] = {
    val rc = tr.spansNamed("OpinionPipeline.runChecked")
    val commits = math.max(1, rc.size)
    val fsSum = rc.map(_.fs).foldLeft(FsCounts.Zero)(_ + _)
    Map(
      "etl.run_checked_s" -> Stats.median(rc.map(_.durNs / 1e9)),
      "etl.run_checked.jobs" -> rc.map(s => tr.jobsIn(s).size.toDouble).sum / math.max(1, rc.size),
      "storage.objects_per_commit" -> Stats.median(commitObjects.toSeq),
      "storage.bytes_written_per_user_byte" -> fsSum.bytesWritten.toDouble / commits / truth.sourceBytes,
      "storage.fs_write_ops_per_commit" -> fsSum.writeOps.toDouble / commits,
      "storage.fs_read_ops_per_commit" -> fsSum.readOps.toDouble / commits,
      "storage.fs_list_ops_per_commit" -> fsSum.listOps.toDouble / commits,
      "storage.resolve_ms" -> Stats.median(ops.ms("resolve")),
      "storage.files_opened_per_scan" -> Stats.median(scanFiles.toSeq),
      "storage.live_files" -> Stats.median(liveFiles.toSeq))
  }

  /** `graft.sources` and `graft.etl` in isolation: the six CSV scans into
    * a noop sink, and the nine transform outputs into a noop sink. */
  def probes(spark: SparkSession, ops: Ops): Map[String, Double] = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def srcs() = CsvSources.readAll(spark, csvDir.getAbsolutePath)
    def sourcesOnce(): Unit = srcs().values.foreach(noop)
    def transformOnce(): Unit = {
      val s = srcs()
      val o = OpinionPipeline.transform(spark, s("clients"), s("products"), s("fuente_datos"),
        s("social_comments"), s("surveys"), s("web_reviews"))
      Seq(o.clientes, o.productos, o.categorias, o.clasificaciones, o.fuentes,
        o.registroCargas, o.comentarios, o.encuestas, o.webReviews).foreach(noop)
    }
    val src = Probe.time(sourcesOnce())
    val tf = Probe.time(transformOnce())
    // the filter references every column: CSV column pruning would
    // otherwise skip parsing (and so never flag) the malformed fields
    val quarantined = srcs().values.map { df =>
      df.where(col("_corrupt").isNotNull &&
        length(concat_ws("|", df.columns.map(c => col(c).cast("string")): _*)) >= 0).count()
    }.sum
    ops.run("check", timed = false)(()) { _ =>
      if (quarantined == truth.quarantined) None
      else Some(s"quarantined $quarantined rows, expected ${truth.quarantined}")
    }
    Map("sources.scan_rows_per_s" -> truth.sourceRows / src,
      "sources.quarantined_rows" -> quarantined.toDouble,
      "etl.transform_s" -> tf)
  }
}
