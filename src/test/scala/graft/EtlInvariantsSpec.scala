package graft

import graft.etl._

/** The five invariants the reference hardened by hand (SURVEY.md §5),
  * asserted on reference-shaped opinion fixtures (FIXTURES.md §A).
  * Invariants 1 (idempotent append) and 4 (atomic multi-table publish)
  * are table-writer guarantees, pinned on [[ManifestTable]] in
  * ManifestTableSpec; the end-to-end publish case here runs them on the
  * star. */
class EtlInvariantsSpec extends SparkSpec {
  import spark.implicits._

  private def fixtures = {
    val clients = Seq(
      (1, "Ana", "ana@mail.com"),
      (2, "Luis", "dup@mail.com"),
      (3, "Eva", "dup@mail.com"),       // duplicate email, different client
      (3, "Eva2", "eva2@mail.com")      // duplicate IdCliente (keep-first)
    ).toDF("IdCliente", "Nombre", "Email")
    val products = Seq(
      (1, "Laptop", "Tecnología"),
      (2, "Mesa", "Hogar"),
      (3, "Silla", null.asInstanceOf[String])  // null Categoría
    ).toDF("IdProducto", "Nombre", "Categoría")
    val fuenteDatos = Seq(
      ("F00001", "Web", "2024-10-14"),
      ("F00002", "Archivo", "2023-05-01"),
      ("F00003", "Web", "2025-01-02"),         // dup TipoFuente (keep-first)
      ("F00004", "API", "not-a-date")          // coerced -> dropped
    ).toDF("IdFuente", "TipoFuente", "FechaCarga")
    // Fuente values are social networks (sql:76) that deliberately do NOT
    // collide with TipoFuente values — the Fuentes dimension must come from
    // the comments themselves (main.py:94), not from fuente_datos.
    val comments = Seq(
      ("CM1", "C1", "P1", "Instagram", "2024-01-10", "bueno"),
      ("CM2", "C9", "P2", "Twitter", "2024-02-11", "nuevo cliente"), // placeholder client 9
      ("CM3", "garbage", "P1", "Facebook", "2024-03-01", "id roto"), // coerce -> dropped
      ("CM4", "C2", "P3", null, "2024-04-01", "sin fuente")          // null IdFuente -> dropped
    ).toDF("IdComment", "IdCliente", "IdProducto", "Fuente", "Fecha", "comentario")
    val surveys = Seq(
      (10, "1", "1", "2024-05-01", "ok", "Positiva", 5),
      (11, "2", "2", "2024-06-01", "meh", "Neutral", 3),
      (12, "3", "1", "2024-07-01", "mal", "Negativa", 9)  // CHECK range violation
    ).toDF("IdOpinion", "IdCliente", "IdProducto", "Fecha", "Comentario", "Clasificacion", "PuntajeSatisfaccion")
    val reviews = Seq(
      ("R1", "C1", "P2", "2024-08-01", "great", 4),
      ("R2", "C8", "P1", "2024-09-01", "missing client", 2)  // placeholder client 8
    ).toDF("IdReview", "IdCliente", "IdProducto", "Fecha", "Comentario", "Rating")
    (clients, products, fuenteDatos, comments, surveys, reviews)
  }

  private lazy val out = {
    val (c, p, f, cm, sv, rv) = fixtures
    OpinionPipeline.transform(spark, c, p, f, cm, sv, rv)
  }

  test("invariant 2: no opinion lost to missing master data (placeholders)") {
    val ids = out.clientes.select("IdCliente").as[Long].collect().toSet
    assert(ids.contains(8L) && ids.contains(9L), "placeholder clients synthesized")
    val ph = out.clientes.filter($"IdCliente" === 9L).collect().head
    assert(ph.getAs[String]("Nombre") == "Cliente_9")
    // synthesized clients use @mail.com (main.py:126); @placeholder.com is
    // only the dup-email rewrite (main.py:129)
    assert(ph.getAs[String]("Email") == "cliente_9@mail.com")
  }

  test("invariant 3: email uniqueness restored without dropping customers") {
    val emails = out.clientes.groupBy("Email").count()
    assert(emails.filter($"count" > 1).isEmpty, "no duplicate emails remain")
    // both conflicting customers survive with rewritten emails
    assert(out.clientes.filter($"IdCliente".isin(2L, 3L)).count() == 2)
  }

  test("invariant 5: FK validity of every loaded fact row") {
    val validIds = out.clientes.select("IdCliente")
    assert(out.comentarios.join(validIds, Seq("IdCliente"), "left_anti").isEmpty)
    assert(out.encuestas.join(validIds, Seq("IdCliente"), "left_anti").isEmpty)
    assert(out.webReviews.join(validIds, Seq("IdCliente"), "left_anti").isEmpty)
  }

  test("coerce semantics: garbage ids and dates drop, never throw") {
    // CM3's unparseable client id and CM4's null Fuente (null IdFuente,
    // main.py:143) both drop; CM1/CM2 survive
    val kept = out.comentarios.select("IdComment").as[String].collect().toSet
    assert(kept == Set("CM1", "CM2"))
    // F00004's bad date is coerced -> dropped from registroCargas
    assert(out.registroCargas.filter($"Nombre" === "API").isEmpty)
  }

  test("fuentes comes from the comments, cargas from fuente_datos (main.py:94-100)") {
    // Fuentes = distinct social networks seen in comments, never TipoFuente
    val nombres = out.fuentes.select("Nombre").as[String].collect().toSet
    assert(nombres == Set("Instagram", "Twitter", "Facebook"))
    // every surviving comentario maps to a real Fuentes row
    assert(out.comentarios.join(out.fuentes.select($"IdFuente"), Seq("IdFuente"), "left_anti").isEmpty)
    // RegistroCargas keeps the TipoFuente/FechaCarga recipe: Web + Archivo
    // (API dropped for its bad date), keep-first BEFORE the date coerce
    val cargas = out.registroCargas.collect().map(r =>
      r.getAs[String]("Nombre") -> r.getAs[java.sql.Timestamp]("FechaCarga").toString).toMap
    assert(cargas.keySet == Set("Web", "Archivo"))
    assert(cargas("Web").startsWith("2024-10-14"), "keep-first won over F00003")
  }

  test("IdCarga scalar lookup (P11, main.py:151,159) + NOT-NULL drop") {
    val archivoId = out.registroCargas.filter($"Nombre" === "Archivo")
      .select("IdCarga").as[Long].head()
    val webId = out.registroCargas.filter($"Nombre" === "Web")
      .select("IdCarga").as[Long].head()
    assert(out.encuestas.select("IdCarga").as[Long].collect().forall(_ == archivoId))
    assert(out.webReviews.select("IdCarga").as[Long].collect().forall(_ == webId))
    // when the looked-up Nombre is absent, .get() -> None -> dropna drops all
    val (c, p, f, cm, sv, rv) = fixtures
    val noArchivo = OpinionPipeline.transform(spark, c, p,
      f.filter($"TipoFuente" =!= "Archivo"), cm, sv, rv)
    assert(noArchivo.encuestas.isEmpty, "no 'Archivo' carga -> every encuesta dropped")
    assert(noArchivo.webReviews.count() > 0, "webreviews unaffected")
  }

  test("CHECK range: out-of-range satisfaction scores are filtered") {
    val scores = out.encuestas.select("PuntajeSatisfaccion").as[Int].collect()
    assert(scores.forall(s => s >= 1 && s <= 5))
    assert(out.encuestas.filter($"IdOpinion" === 12).isEmpty)
  }

  test("dimension build: distinct + dense stable surrogate keys") {
    val cats = out.categorias.orderBy("IdCategoria")
      .as[(Long, String)].collect()
    assert(cats.map(_._2).toSeq == cats.map(_._2).sorted.toSeq, "keys ordered by name")
    assert(cats.map(_._1).toSeq == (1L to cats.length).toSeq, "dense from 1")
    // keep-first on TipoFuente: F00003's later Web row did not win
    assert(out.registroCargas.filter($"Nombre" === "Web").count() == 1)
  }

  test("end-to-end publish is idempotent-by-construction: re-run == same tables") {
    val root = tmpDir("e2e")
    val v1 = OpinionPipeline.run(spark, out, root)
    assert(v1 == 1L, "nine tables land as ONE manifest commit")
    val tables = Seq("clientes", "productos", "categorias", "clasificaciones",
      "fuentes", "registrocargas", "comentarios", "encuestas", "webreviews")
    def snapshot(): Map[String, Long] =
      tables.map(t => t -> OpinionPipeline.readTable(spark, root, t).count()).toMap
    val first = snapshot()
    assert(first.values.forall(_ > 0), s"all tables non-empty: $first")
    // facts carry the derived year and its per-file stats (manifest file
    // skipping = the reference's filegroup pruning): a one-year read of a
    // fact never opens more files than the full scan, and equals the filter
    val full = OpinionPipeline.readTable(spark, root, "comentarios")
    assert(full.columns.contains("anio"))
    assert(graft.etl.ManifestTable.readPruned(spark, root, "comentarios",
      "anio", 2024L, 2024L).count() == full.filter($"anio" === 2024).count())
    // Re-running the whole pipeline (recompute + manifest publish) must
    // converge to the same state — the engine's strictly-stronger answer
    // to the reference's transactional load (SURVEY.md §7 hard-part T1):
    // a new committed version with identical content, old version retained.
    val v2 = OpinionPipeline.run(spark, out, root)
    assert(v2 == 2L)
    assert(snapshot() == first)
  }
}
