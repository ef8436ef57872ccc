package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators, one per workload. Each writes the files the
  * program reads and returns the ground truth the benchmark checks the
  * program's output against. The same seed gives byte-identical files.
  * Only `java.io` is used here: the program under test sees nothing but
  * the files.
  */
object Gen {

  private def writer(f: File): BufferedWriter = {
    f.getParentFile.mkdirs()
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f),
      StandardCharsets.UTF_8), 1 << 16)
  }

  /** Writes `lines` (already newline-free) to `f`; returns bytes written. */
  private def writeLines(f: File, header: String)(emit: (String => Unit) => Unit): Long = {
    val w = writer(f)
    var bytes = 0L
    def line(s: String): Unit = {
      w.write(s); w.write('\n'); bytes += s.getBytes(StandardCharsets.UTF_8).length + 1
    }
    try { if (header != null) line(header); emit(line) } finally w.close()
    bytes
  }

  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))

  private def word(r: SplittableRandom, minLen: Int, maxLen: Int): String = {
    val n = minLen + r.nextInt(maxLen - minLen + 1)
    val sb = new StringBuilder(n)
    for (_ <- 0 until n) sb.append(('a' + r.nextInt(26)).toChar)
    sb.toString
  }

  // ------------------------------------------------------------ opinion

  /** Row counts of the six reference-shaped sources (FIXTURES.md §A). */
  final case class OpinionSizes(clients: Int, products: Int, fuentes: Int, factRows: Int)

  /** Stated share of every dirty case; the generator tests hold each
    * measured share to within `OpinionShares.Tolerance` of these. */
  object OpinionShares {
    val DupClientId = 0.01      // repeated IdCliente (keep-first drops it)
    val DupEmail = 0.105        // 5,274 / 50k in the reference clients.csv
    val NullProductId = 0.01    // dropped
    val NullCategory = 0.03     // product kept, IdCategoria null
    val NullTipoFuente = 0.002  // dropped before keep-first
    val BadFechaCarga = 0.01    // unparseable; drops the type if first
    val GarbageId = 0.01        // per id column of every fact source
    val MissingClient = 0.02    // fact cites a client absent from clients.csv
    val NullFuente = 0.02       // social comment without a network
    val NullClasificacion = 0.03
    val OutOfRange = 0.03       // PuntajeSatisfaccion / Rating outside 1..5
    val Malformed = 0.005       // survey score not an integer: quarantined
    val Tolerance = 0.01
  }

  final case class OpinionTruth(
      tableRows: Map[String, Long],
      sourceRows: Long,
      sourceBytes: Long,
      quarantined: Long,
      measuredShares: Map[String, Double])

  private val Categories = Vector("Electronica", "Hogar", "Ropa", "Deportes", "Juguetes", "Libros")
  private val TiposFuente = Vector("Archivo", "Web", "API", "CRM", "ERP", "Encuesta",
    "Email", "Movil", "Tienda", "Telefono", "Social", "Partner")
  private val Redes = Vector("Instagram", "Twitter", "Facebook", "TikTok", "YouTube")
  private val Clasificaciones = Vector("Positiva", "Negativa", "Neutral")

  private def date(r: SplittableRandom, y0: Int, y1: Int): String =
    f"${y0 + r.nextInt(y1 - y0 + 1)}%04d-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d"

  private def phrase(r: SplittableRandom, vocab: IndexedSeq[String], n: Int): String =
    (0 until n).map(_ => pick(r, vocab)).mkString(" ")

  /** Writes clients.csv, products.csv, fuente_datos.csv,
    * social_comments.csv, surveys_part1.csv and web_reviews.csv under
    * `dir`, and truth.json: the star's expected row counts after the
    * reference's cleaning (main.py:88-169 as ported in OpinionPipeline). */
  def opinion(dir: File, seed: Long, sz: OpinionSizes): OpinionTruth = {
    import OpinionShares._
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val vocab = Vector.fill(400)(word(r, 3, 9))
    var bytes = 0L
    var rows = 0L
    val shares = mutable.LinkedHashMap.empty[String, Double]

    // clients: ids 1..n with repeated ids and shared emails
    val clientIds = mutable.HashSet.empty[Long]
    val emails = mutable.ArrayBuffer.empty[String]
    var dupIds = 0; var dupEmails = 0
    bytes += writeLines(new File(dir, "clients.csv"), "IdCliente,Nombre,Email") { line =>
      var next = 1L
      for (i <- 0 until sz.clients) {
        val id =
          if (i > 0 && r.nextDouble() < DupClientId) { dupIds += 1; 1L + r.nextInt(next.toInt - 1) }
          else { next += 1; next - 1 }
        clientIds += id
        val email =
          if (i > 0 && r.nextDouble() < DupEmail) { dupEmails += 1; emails(r.nextInt(emails.size)) }
          else s"u$i@example.com"
        emails += email
        line(s"$id,Nombre ${pick(r, vocab)} ${pick(r, vocab)},$email")
      }
    }
    rows += sz.clients
    shares("clients.dup_id") = dupIds.toDouble / sz.clients
    shares("clients.dup_email") = dupEmails.toDouble / sz.clients
    val maxClient = clientIds.max

    // products: unique ids, a few null ids, some null categories
    val validProducts = mutable.ArrayBuffer.empty[Long]
    val categoriesSeen = mutable.HashSet.empty[String]
    var nullCats = 0
    bytes += writeLines(new File(dir, "products.csv"), "IdProducto,Nombre,Categoría") { line =>
      for (i <- 1 to sz.products) {
        val nullId = r.nextDouble() < NullProductId
        // every category appears: the first six rows cycle through them
        val cat =
          if (i <= Categories.size) Categories(i - 1)
          else if (r.nextDouble() < NullCategory) { nullCats += 1; "" }
          else pick(r, Categories)
        if (cat.nonEmpty) categoriesSeen += cat
        if (!nullId) validProducts += i.toLong
        line(s"${if (nullId) "" else i.toString},Producto ${pick(r, vocab)},$cat")
      }
    }
    rows += sz.products
    shares("products.null_id") = 1.0 - validProducts.size.toDouble / sz.products
    shares("products.null_category") = nullCats.toDouble / sz.products

    // fuente_datos: keep-first per TipoFuente, then unparseable dates drop
    val firstDateOk = mutable.LinkedHashMap.empty[String, Boolean]
    var badDates = 0; var nullTipos = 0
    bytes += writeLines(new File(dir, "fuente_datos.csv"), "IdFuente,TipoFuente,FechaCarga") { line =>
      for (i <- 0 until sz.fuentes) {
        // rows 0-2 pin the cases the pipeline depends on: Archivo and Web
        // load, and one type whose FIRST row has a bad date is dropped
        val (tipo, ok) = i match {
          case 0 => ("Archivo", true)
          case 1 => ("Web", true)
          case 2 => ("Partner", false)
          case _ =>
            val t = if (r.nextDouble() < NullTipoFuente) "" else pick(r, TiposFuente)
            (t, r.nextDouble() >= BadFechaCarga)
        }
        if (tipo.isEmpty) nullTipos += 1
        if (!ok) badDates += 1
        if (tipo.nonEmpty && !firstDateOk.contains(tipo)) firstDateOk(tipo) = ok
        line(f"F$i%05d,$tipo,${if (ok) date(r, 2022, 2024) else "fecha-invalida"}")
      }
    }
    rows += sz.fuentes
    shares("fuente_datos.bad_date") = badDates.toDouble / sz.fuentes
    shares("fuente_datos.null_tipo") = nullTipos.toDouble / sz.fuentes

    // fact id helpers: Some(id) when the cleaned id survives coercion
    val missingBase = maxClient + 1
    def clientId(): Option[Long] =
      if (r.nextDouble() < GarbageId) None
      else if (r.nextDouble() < MissingClient) Some(missingBase + r.nextInt(sz.clients / 10 + 1))
      else Some(1L + r.nextInt(maxClient.toInt))
    def productId(): Option[Long] =
      if (r.nextDouble() < GarbageId) None else Some(validProducts(r.nextInt(validProducts.size)))
    def prefixed(p: String, id: Option[Long]): String = id.fold(s"${p}x${r.nextInt(1000)}")(i => s"$p$i")
    def plain(id: Option[Long]): String = id.fold(s"id${r.nextInt(1000)}")(_.toString)
    val factClients = mutable.HashSet.empty[Long]
    var missing = 0L; var garbage = 0L; var idCols = 0L

    def track(c: Option[Long], p: Option[Long]): Unit = {
      idCols += 2
      if (c.isEmpty) garbage += 1
      if (p.isEmpty) garbage += 1
      c.foreach { id => factClients += id; if (!clientIds.contains(id)) missing += 1 }
    }

    var comentarios = 0L; var nullFuentes = 0
    val redesSeen = mutable.HashSet.empty[String]
    bytes += writeLines(new File(dir, "social_comments.csv"),
        "IdComment,IdCliente,IdProducto,Fuente,Fecha,comentario") { line =>
      for (i <- 0 until sz.factRows) {
        val c = clientId(); val p = productId(); track(c, p)
        val red = if (i < Redes.size) Redes(i) else if (r.nextDouble() < NullFuente) "" else pick(r, Redes)
        if (red.isEmpty) nullFuentes += 1 else redesSeen += red
        if (c.isDefined && p.isDefined && red.nonEmpty) comentarios += 1
        line(s"SC$i,${prefixed("C", c)},${prefixed("P", p)},$red,${date(r, 2023, 2026)},${phrase(r, vocab, 6)}")
      }
    }
    rows += sz.factRows
    shares("social_comments.null_fuente") = nullFuentes.toDouble / sz.factRows

    var encuestas = 0L; var nullClas = 0; var outOfRange = 0; var malformed = 0
    val clasSeen = mutable.HashSet.empty[String]
    bytes += writeLines(new File(dir, "surveys_part1.csv"),
        "IdOpinion,IdCliente,IdProducto,Fecha,Comentario,Clasificacion,PuntajeSatisfaccion") { line =>
      for (i <- 0 until sz.factRows) {
        val c = clientId(); val p = productId(); track(c, p)
        val clas =
          if (i < Clasificaciones.size) Clasificaciones(i)
          else if (r.nextDouble() < NullClasificacion) "" else pick(r, Clasificaciones)
        if (clas.isEmpty) nullClas += 1 else clasSeen += clas
        val u = r.nextDouble()
        val (score, valid) =
          if (u < Malformed) { malformed += 1; ("n/a", false) }
          else if (u < Malformed + OutOfRange) { outOfRange += 1; (pick(r, Vector("0", "6", "9")), false) }
          else ((1 + r.nextInt(5)).toString, true)
        if (c.isDefined && p.isDefined && clas.nonEmpty && valid) encuestas += 1
        line(s"${i + 1},${plain(c)},${plain(p)},${date(r, 2023, 2026)},${phrase(r, vocab, 6)},$clas,$score")
      }
    }
    rows += sz.factRows
    shares("surveys.null_clasificacion") = nullClas.toDouble / sz.factRows
    shares("surveys.out_of_range") = outOfRange.toDouble / sz.factRows
    shares("surveys.malformed") = malformed.toDouble / sz.factRows

    var webreviews = 0L; var badRating = 0
    bytes += writeLines(new File(dir, "web_reviews.csv"),
        "IdReview,IdCliente,IdProducto,Fecha,Comentario,Rating") { line =>
      for (i <- 0 until sz.factRows) {
        val c = clientId(); val p = productId(); track(c, p)
        val ok = r.nextDouble() >= OutOfRange
        if (!ok) badRating += 1
        val rating = if (ok) 1 + r.nextInt(5) else pick(r, Vector(0, 6, 7))
        if (c.isDefined && p.isDefined && ok) webreviews += 1
        line(s"WR$i,${prefixed("C", c)},${prefixed("P", p)},${date(r, 2023, 2026)},${phrase(r, vocab, 6)},$rating")
      }
    }
    rows += sz.factRows
    shares("web_reviews.out_of_range") = badRating.toDouble / sz.factRows
    shares("facts.garbage_id") = garbage.toDouble / idCols
    shares("facts.missing_client") = missing.toDouble / (idCols / 2)

    val placeholders = factClients.count(id => !clientIds.contains(id))
    val cargas = firstDateOk.count(_._2)
    require(firstDateOk.get("Archivo").contains(true) && firstDateOk.get("Web").contains(true))
    val truth = OpinionTruth(
      tableRows = Map(
        "clientes" -> (clientIds.size + placeholders).toLong,
        "productos" -> validProducts.size.toLong,
        "categorias" -> categoriesSeen.size.toLong,
        "clasificaciones" -> clasSeen.size.toLong,
        "fuentes" -> redesSeen.size.toLong,
        "registrocargas" -> cargas.toLong,
        "comentarios" -> comentarios,
        "encuestas" -> encuestas,
        "webreviews" -> webreviews),
      sourceRows = rows, sourceBytes = bytes, quarantined = malformed.toLong,
      measuredShares = shares.toMap)
    writeTruth(new File(dir, "truth.json"), Map("star_rows" -> truth.tableRows,
      "source_rows" -> rows, "source_bytes" -> bytes, "quarantined_rows" -> truth.quarantined,
      "dirty_shares" -> truth.measuredShares))
    truth
  }

  private def writeTruth(f: File, m: Map[String, Any]): Unit = { writeLines(f, null)(_(Json(m))); () }

  // ------------------------------------------------------------- corpus

  final case class CorpusSizes(docs: Int, vectors: Int, queries: Int, dim: Int, clusters: Int)

  object CorpusShares {
    val ExactDup = 0.05
    val NearDup = 0.15
    val LowQuality = 0.10
    val Tolerance = 0.01
  }

  final case class CorpusTruth(
      docs: Int,
      exactDups: Set[Long],
      nearDups: Set[Long],
      lowQuality: Set[Long],
      /** Brute-force top-10 ids per query, best first, and the cosine of
        * the 10th and 11th neighbour (a tie there makes either id correct). */
      topK: Map[Long, (Seq[Long], Double, Double)],
      minNearJaccard: Double)

  val Langs = Vector("en", "es", "fr", "de", "pt")
  val QueryIdBase = 10000000L

  /** Word 3-shingle Jaccard, as `Dedup.dedupCorpus` scores pairs. */
  def jaccard3(a: Array[String], b: Array[String]): Double = {
    def sh(w: Array[String]) = w.sliding(3).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  /** Writes docs.jsonl (doc_id, source, lang, text) and vectors.jsonl /
    * queries.jsonl (vec_id, embedding) under `dir`, with truth.json: the
    * injected duplicate and low-quality ids and the exact top-10 per query. */
  def corpus(dir: File, seed: Long, sz: CorpusSizes): CorpusTruth = {
    import CorpusShares._
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 2)
    val vocabs = Langs.map(_ => Vector.fill(3000)(word(r, 3, 8)))
    val nExact = math.round(sz.docs * ExactDup).toInt
    val nNear = math.round(sz.docs * NearDup).toInt
    val nLow = math.round(sz.docs * LowQuality).toInt
    val nBase = sz.docs - nExact - nNear - nLow
    // skewed source mix: source s has weight 1/(s+1)
    val weights = (0 until 20).map(s => 1.0 / (s + 1)); val wsum = weights.sum
    def source(): String = {
      var u = r.nextDouble() * wsum; var s = 0
      while (s < 19 && u >= weights(s)) { u -= weights(s); s += 1 }
      f"src$s%02d"
    }
    final case class Doc(id: Long, source: String, lang: Int, words: Array[String])
    val docs = new Array[Doc](sz.docs)
    for (i <- 0 until nBase) {
      val l = r.nextInt(Langs.size)
      val ws = mutable.ArrayBuffer.empty[String]; var len = 0
      while (len < 300) { val w = pick(r, vocabs(l)); ws += w; len += w.length + 1 }
      docs(i) = Doc(i, source(), l, ws.toArray)
    }
    var id = nBase
    for (_ <- 0 until nLow) {
      val l = r.nextInt(Langs.size)
      val ws =
        if (r.nextBoolean()) Array.fill(3 + r.nextInt(5))(pick(r, vocabs(l)))
        else { val a = pick(r, vocabs(l)); val b = pick(r, vocabs(l)); Array.tabulate(40)(j => if (j % 2 == 0) a else b) }
      docs(id) = Doc(id, source(), l, ws); id += 1
    }
    val exact = mutable.Set.empty[Long]
    for (_ <- 0 until nExact) {
      val b = docs(r.nextInt(nBase))
      docs(id) = b.copy(id = id, source = source()); exact += id; id += 1
    }
    val near = mutable.Set.empty[Long]
    var minJ = 1.0
    for (_ <- 0 until nNear) {
      val b = docs(r.nextInt(nBase))
      val ws = b.words.clone()
      val pos = 3 + r.nextInt(ws.length - 6)
      var w = pick(r, vocabs(b.lang))
      while (w == ws(pos)) w = pick(r, vocabs(b.lang))
      ws(pos) = w
      minJ = math.min(minJ, jaccard3(b.words, ws))
      docs(id) = Doc(id, source(), b.lang, ws); near += id; id += 1
    }
    // file order is shuffled so ids carry no position information
    for (i <- docs.indices.reverse) {
      val j = r.nextInt(i + 1); val t = docs(i); docs(i) = docs(j); docs(j) = t
    }
    writeLines(new File(dir, "docs.jsonl"), null) { line =>
      docs.foreach(d => line(
        s"""{"doc_id":${d.id},"source":"${d.source}","lang":"${Langs(d.lang)}","text":"${d.words.mkString(" ")}"}"""))
    }

    // embeddings: `clusters` gaussian centres; components quantised to
    // k/1024 so the decimal text parses to the same float everywhere
    val centres = Array.fill(sz.clusters, sz.dim)(r.nextGaussian())
    def vec(): Array[Float] = {
      val c = centres(r.nextInt(sz.clusters))
      Array.tabulate(sz.dim)(j => (math.rint((c(j) + 0.45 * r.nextGaussian()) * 1024) / 1024).toFloat)
    }
    val vs = Array.fill(sz.vectors)(vec())
    val qs = Array.fill(sz.queries)(vec())
    def jsonVec(id: Long, v: Array[Float]) =
      s"""{"vec_id":$id,"embedding":[${v.map(x => java.math.BigDecimal.valueOf(x.toDouble).toPlainString).mkString(",")}]}"""
    writeLines(new File(dir, "vectors.jsonl"), null) { line =>
      vs.indices.foreach(i => line(jsonVec(i.toLong, vs(i))))
    }
    writeLines(new File(dir, "queries.jsonl"), null) { line =>
      qs.indices.foreach(i => line(jsonVec(QueryIdBase + i, qs(i))))
    }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      val d = math.sqrt(na) * math.sqrt(nb)
      if (d > 0) dot / d else 0.0
    }
    // round(cosine, 6) with ties to the smaller id, as
    // Similarity.bruteForceTopK ranks; only the 32 best raw scores can
    // reach the top 11 after rounding
    val topK = qs.indices.map { q =>
      val raw = vs.indices.map(i => (cos(qs(q), vs(i)), i.toLong)).sortBy(-_._1).take(32)
      val scored = raw.map { case (c, i) =>
        (BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, i) }
        .sortBy { case (c, i) => (-c, i) }.take(11)
      (QueryIdBase + q) -> ((scored.take(10).map(_._2), scored(9)._1, scored(10)._1))
    }.toMap
    val low = (nBase.toLong until (nBase + nLow).toLong).toSet
    writeTruth(new File(dir, "truth.json"), Map("exact_dup_ids" -> exact.toSeq.sorted,
      "near_dup_ids" -> near.toSeq.sorted, "low_quality_ids" -> low.toSeq.sorted,
      "exact_top10" -> topK.map { case (q, (ids, _, _)) => q.toString -> ids }))
    CorpusTruth(sz.docs, exact.toSet, near.toSet, low, topK, minJ)
  }

  // ----------------------------------------------------------------- cdc

  final case class CdcSizes(seedRows: Int, batchRows: Int, batches: Int, payloadBytes: Int,
                            lookupsPerBatch: Int, scansPerBatch: Int)

  object CdcShares {
    val Update = 0.60
    val Insert = 0.25
    val Delete = 0.15
    val Tolerance = 0.02
  }

  /** One live row of the maintained table. */
  final case class Row(k: Long, seq: Long, d: Int, payload: String, digest: String) {
    def userBytes: Long = 8 + 8 + 4 + payload.length + digest.length
  }

  final case class Lookup(key: Long, expected: Option[Row])
  final case class Scan(lo: Int, hi: Int, expectedKeys: Set[Long])

  /** Everything one batch cycle needs: the change file it drops, the
    * lookups and scans that follow, and the live state they see. */
  final case class CdcBatch(file: File, rows: Int, bytes: Long, ops: Map[String, Int],
                            lookups: Seq[Lookup], scans: Seq[Scan],
                            liveKeys: Int, liveDigest: Long, liveUserBytes: Long)

  final case class CdcTruth(seedFile: File, batches: IndexedSeq[CdcBatch])

  val CdcCsvHeader = "k,seq,op,d,payload,digest"
  private val Epoch2024 = java.time.LocalDate.of(2024, 1, 1).toEpochDay.toInt

  def dayString(d: Int): String = java.time.LocalDate.ofEpochDay(d.toLong).toString

  /** Order-independent digest of a live (key, digest) set; the benchmark
    * computes the same over the table it reads back. */
  def liveDigest(rows: Iterable[(Long, String)]): Long =
    rows.foldLeft(0L) { case (acc, (k, dg)) => acc + mix(k * 31 + dg.hashCode) }

  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Writes seed.csv and batch-NNNN.csv change files under `dir`, with
    * truth.json (live key count and digest after every batch) and
    * final_live_keys.txt; the live state after every batch drives the
    * expected lookup and scan answers.
    * Dates advance with the key, so the table clusters by date and new
    * keys land in new date ranges. */
  def cdc(dir: File, seed: Long, sz: CdcSizes): CdcTruth = {
    import CdcShares._
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 3)
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
    def payload(): String = {
      val sb = new StringBuilder(sz.payloadBytes)
      for (_ <- 0 until sz.payloadBytes) sb.append(alphabet.charAt(r.nextInt(alphabet.length)))
      sb.toString
    }
    def digest(p: String): String = f"${mix(p.hashCode.toLong) & 0xFFFFFFFFFFFFL}%012x"
    val perDay = 200
    def dayOf(k: Long): Int = Epoch2024 + (k / perDay).toInt
    val live = mutable.LongMap.empty[Row]
    val order = mutable.ArrayBuffer.empty[Long] // keys in insertion order
    val deleted = mutable.ArrayBuffer.empty[Long]
    var nextKey = 0L
    var seq = 0L
    def newRow(k: Long): Row = { seq += 1; val p = payload(); Row(k, seq, dayOf(k), p, digest(p)) }
    def csv(row: Row, op: String) = s"${row.k},${row.seq},$op,${dayString(row.d)},${row.payload},${row.digest}"

    val seedFile = new File(dir, "seed.csv")
    writeLines(seedFile, CdcCsvHeader) { line =>
      for (_ <- 0 until sz.seedRows) {
        val row = newRow(nextKey); nextKey += 1
        live(row.k) = row; order += row.k
        line(csv(row, "I"))
      }
    }
    // keys skewed toward recent inserts: rank from the newest, u^3 skew
    def recentLiveKey(): Option[Long] = {
      var tries = 0
      while (tries < 64) {
        val idx = order.length - 1 - (math.pow(r.nextDouble(), 3) * order.length).toInt
        val k = order(math.max(0, idx))
        if (live.contains(k)) return Some(k)
        tries += 1
      }
      None
    }
    val batches = (0 until sz.batches).map { b =>
      val f = new File(dir, f"changes/batch-$b%04d.csv")
      val ops = mutable.Map("U" -> 0, "I" -> 0, "D" -> 0)
      val bytes = writeLines(f, CdcCsvHeader) { line =>
        for (_ <- 0 until sz.batchRows) {
          val u = r.nextDouble()
          val existing = if (u < Insert) None else recentLiveKey()
          existing match {
            case None =>
              val row = newRow(nextKey); nextKey += 1
              live(row.k) = row; order += row.k; ops("I") += 1
              line(csv(row, "I"))
            case Some(k) if u < Insert + Update =>
              val row = newRow(k); live(k) = row; ops("U") += 1
              line(csv(row, "U"))
            case Some(k) =>
              seq += 1
              val old = live.remove(k).get
              deleted += k
              ops("D") += 1
              line(csv(old.copy(seq = seq), "D"))
          }
        }
      }
      // half the lookups hit a live key, half miss (deleted keys and
      // never-inserted keys alike)
      val lookups = (0 until sz.lookupsPerBatch).map { i =>
        if (i % 2 == 0) { val k = recentLiveKey().getOrElse(live.keysIterator.next()); Lookup(k, live.get(k)) }
        else {
          val k =
            if (deleted.nonEmpty && r.nextBoolean()) deleted(r.nextInt(deleted.size))
            else nextKey + 1 + r.nextInt(1000000)
          Lookup(k, live.get(k))
        }
      }
      val dayHi = dayOf(nextKey)
      val scans = (0 until sz.scansPerBatch).map { _ =>
        val lo = Epoch2024 + r.nextInt(dayHi - Epoch2024 + 1)
        val hi = math.min(dayHi, lo + 1 + r.nextInt(3))
        Scan(lo, hi, live.valuesIterator.filter(x => x.d >= lo && x.d <= hi).map(_.k).toSet)
      }
      CdcBatch(f, sz.batchRows, bytes, ops.toMap, lookups, scans, live.size,
        liveDigest(live.valuesIterator.map(x => (x.k, x.digest)).toSeq),
        live.valuesIterator.map(_.userBytes).sum)
    }
    writeLines(new File(dir, "final_live_keys.txt"), null)(line => live.keys.toSeq.sorted.foreach(k => line(k.toString)))
    writeTruth(new File(dir, "truth.json"), Map("batches" -> batches.map(b => Map(
      "file" -> b.file.getName, "ops" -> b.ops, "live_keys" -> b.liveKeys, "live_digest" -> b.liveDigest))))
    CdcTruth(seedFile, batches)
  }
}
