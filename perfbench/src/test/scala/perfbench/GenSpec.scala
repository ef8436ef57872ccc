package perfbench

import java.io.File
import java.nio.file.{Files => NFiles}

import org.scalatest.funsuite.AnyFunSuite

/** The generators are the benchmark's ground truth: same seed, same bytes;
  * another seed, other bytes; every stated share within its tolerance. */
class GenSpec extends AnyFunSuite {

  private def tmp(): File = NFiles.createTempDirectory("perfbench-gen").toFile

  private def bytesOf(dir: File): Map[String, Seq[Byte]] =
    Files.listing(dir).keys.map(k => k -> NFiles.readAllBytes(new File(dir, k).toPath).toSeq).toMap

  private def within(name: String, got: Double, want: Double, tol: Double): Unit =
    assert(math.abs(got - want) <= tol, s"$name: measured $got, stated $want ± $tol")

  private val opSizes = Gen.OpinionSizes(clients = 10000, products = 10000, fuentes = 10000, factRows = 20000)
  private val corpusSizes = Gen.CorpusSizes(docs = 4000, vectors = 1000, queries = 20, dim = 16, clusters = 8)
  private val cdcSizes = Gen.CdcSizes(seedRows = 5000, batchRows = 1000, batches = 6, payloadBytes = 50,
    lookupsPerBatch = 25, scansPerBatch = 5)

  private def deterministic(gen: (File, Long) => Any): Unit = {
    val (a, b, c) = (tmp(), tmp(), tmp())
    try {
      gen(a, 7L); gen(b, 7L); gen(c, 8L)
      val (ba, bb, bc) = (bytesOf(a), bytesOf(b), bytesOf(c))
      assert(ba.nonEmpty)
      assert(ba == bb, "same seed must give byte-identical inputs")
      assert(ba.keySet == bc.keySet)
      assert(ba.exists { case (k, v) => bc(k) != v }, "another seed must give other inputs")
    } finally Seq(a, b, c).foreach(Files.delete)
  }

  test("opinion inputs are a function of the seed") {
    deterministic((d, s) => Gen.opinion(d, s, opSizes))
  }

  test("corpus inputs are a function of the seed") {
    deterministic((d, s) => Gen.corpus(d, s, corpusSizes))
  }

  test("cdc inputs are a function of the seed") {
    deterministic((d, s) => Gen.cdc(d, s, cdcSizes))
  }

  test("opinion dirty-row shares hold") {
    val d = tmp()
    try {
      val t = Gen.opinion(d, 11L, opSizes)
      import Gen.OpinionShares._
      val tol = Tolerance
      val m = t.measuredShares
      within("dup client id", m("clients.dup_id"), DupClientId, tol)
      within("dup email", m("clients.dup_email"), DupEmail, tol)
      within("null product id", m("products.null_id"), NullProductId, tol)
      within("null category", m("products.null_category"), NullCategory, tol)
      within("bad FechaCarga", m("fuente_datos.bad_date"), BadFechaCarga, tol)
      within("null TipoFuente", m("fuente_datos.null_tipo"), NullTipoFuente, tol)
      within("null Fuente", m("social_comments.null_fuente"), NullFuente, tol)
      within("null Clasificacion", m("surveys.null_clasificacion"), NullClasificacion, tol)
      within("survey score out of range", m("surveys.out_of_range"), OutOfRange, tol)
      within("malformed survey score", m("surveys.malformed"), Malformed, tol)
      within("rating out of range", m("web_reviews.out_of_range"), OutOfRange, tol)
      within("garbage fact id", m("facts.garbage_id"), GarbageId, tol)
      within("fact cites missing client", m("facts.missing_client"), MissingClient, tol)
      assert(t.tableRows("categorias") == 6 && t.tableRows("fuentes") == 5 &&
        t.tableRows("clasificaciones") == 3)
      // Archivo and Web load; Partner's first row has a bad date
      assert(t.tableRows("registrocargas") == 11)
      assert(t.tableRows("clientes") > opSizes.clients * 0.99)
      assert(t.quarantined > 0)
    } finally Files.delete(d)
  }

  test("corpus duplicate and quality shares hold") {
    val d = tmp()
    try {
      val t = Gen.corpus(d, 12L, corpusSizes)
      import Gen.CorpusShares._
      within("exact dups", t.exactDups.size.toDouble / t.docs, ExactDup, Tolerance)
      within("near dups", t.nearDups.size.toDouble / t.docs, NearDup, Tolerance)
      within("low quality", t.lowQuality.size.toDouble / t.docs, LowQuality, Tolerance)
      assert(t.minNearJaccard >= 0.8, s"a near-dup has Jaccard ${t.minNearJaccard} < 0.8")
      assert(t.topK.size == corpusSizes.queries && t.topK.values.forall(_._1.size == 10))
      val lines = scala.io.Source.fromFile(new File(d, "docs.jsonl")).getLines().toSeq
      assert(lines.size == corpusSizes.docs)
      assert(lines.map(l => l.substring(l.indexOf("\"source\":") + 10).take(5)).distinct.size == 20)
    } finally Files.delete(d)
  }

  test("cdc op mix and lookup hit shares hold") {
    val d = tmp()
    try {
      val t = Gen.cdc(d, 13L, cdcSizes)
      import Gen.CdcShares._
      val ops = t.batches.flatMap(_.ops).groupMapReduce(_._1)(_._2)(_ + _)
      val n = ops.values.sum.toDouble
      within("updates", ops("U") / n, Update, Tolerance)
      within("inserts", ops("I") / n, Insert, Tolerance)
      within("deletes", ops("D") / n, Delete, Tolerance)
      // every batch: ceil(n/2) lookups of live keys, the rest absent
      assert(t.batches.forall(b => b.lookups.count(_.expected.isDefined) == (cdcSizes.lookupsPerBatch + 1) / 2))
      assert(t.batches.forall(_.scans.size == cdcSizes.scansPerBatch))
      assert(t.batches.last.liveKeys ==
        cdcSizes.seedRows + ops("I") - ops("D"))
    } finally Files.delete(d)
  }
}
