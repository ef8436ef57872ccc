package graft

import java.nio.file.{Files, Paths}

import graft.etl.{ManifestTable, OpinionPipeline}

/** The drop-in replacement path: six CSVs on disk -> one call -> published
  * star schema, idempotent under re-run. The star is manifest-committed
  * (all nine tables in ONE commit file), so every read here resolves
  * through the manifest — the object-store-safe T1 path. */
class PipelineE2ESpec extends SparkSpec {
  import spark.implicits._

  private def writeCsvFixtures(dir: String): Unit = {
    def w(name: String, body: String): Unit =
      Files.writeString(Paths.get(s"$dir/$name"), body)
    w("clients.csv",
      """IdCliente,Nombre,Email
        |1,Ana,ana@mail.com
        |2,Luis,dup@mail.com
        |3,Eva,dup@mail.com
        |""".stripMargin)
    w("products.csv",
      """IdProducto,Nombre,Categoría
        |1,Laptop,Tecnología
        |2,Mesa,Hogar
        |""".stripMargin)
    w("fuente_datos.csv",
      """IdFuente,TipoFuente,FechaCarga
        |F00001,Web,2024-10-14
        |F00002,Archivo,2023-05-01
        |""".stripMargin)
    w("social_comments.csv",
      """IdComment,IdCliente,IdProducto,Fuente,Fecha,comentario
        |CM1,C1,P1,Instagram,2024-01-10,bueno
        |CM2,C9,P2,Twitter,2025-02-11,cliente nuevo
        |""".stripMargin)
    w("surveys_part1.csv",
      """IdOpinion,IdCliente,IdProducto,Fecha,Comentario,Clasificacion,PuntajeSatisfaccion
        |10,1,1,2024-05-01,ok,Positiva,5
        |11,2,2,2023-06-01,meh,Neutral,3
        |""".stripMargin)
    w("web_reviews.csv",
      """IdReview,IdCliente,IdProducto,Fecha,Comentario,Rating
        |R1,C1,P2,2024-08-01,great,4
        |""".stripMargin)
  }

  test("runFromCsv: CSVs in, consistent star schema out, idempotent re-run") {
    val csvDir = tmpDir("csv-e2e")
    val outRoot = tmpDir("star-e2e")
    writeCsvFixtures(csvDir)

    // pin the range-cluster width: the pruning assertion below needs at
    // least as many shuffle partitions as distinct fact years (2024/2025),
    // independent of whatever the suite-level session config says
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    OpinionPipeline.runFromCsv(spark, csvDir, outRoot)
    // the whole nine-table star is ONE manifest commit
    assert(ManifestTable.current(spark, outRoot).get.version == 1L)

    def t(name: String) = OpinionPipeline.readTable(spark, outRoot, name)
    val clientes = t("clientes")
    // 3 real + 1 placeholder (C9 from social_comments)
    assert(clientes.count() == 4)
    assert(clientes.filter($"Email" === "dup@mail.com").count() <= 1,
      "email uniqueness enforced")
    val comentarios = t("comentarios")
    assert(comentarios.count() == 2)
    assert(comentarios.columns.contains("anio"), "year-partitioned fact")
    // FK integrity across the published tree
    val ids = clientes.select("IdCliente")
    assert(comentarios.join(ids, Seq("IdCliente"), "left_anti").isEmpty)
    // Fuentes dimension carries the comments' social networks, not TipoFuente
    val fuentes = t("fuentes")
    assert(fuentes.select("Nombre").as[String].collect().toSet == Set("Instagram", "Twitter"))
    assert(comentarios.join(fuentes.select("IdFuente"), Seq("IdFuente"), "left_anti").isEmpty)
    // RegistroCargas is the 9th published table; facts carry its IdCarga FK
    val cargas = t("registrocargas")
    assert(cargas.select("Nombre").as[String].collect().toSet == Set("Web", "Archivo"))
    val encuestas = t("encuestas")
    val webreviews = t("webreviews")
    assert(encuestas.count() == 2 && webreviews.count() == 1)
    assert(encuestas.join(cargas.select("IdCarga"), Seq("IdCarga"), "left_anti").isEmpty)
    assert(webreviews.join(cargas.select("IdCarga"), Seq("IdCarga"), "left_anti").isEmpty)

    // S5 pruning through the manifest: the 2024 and 2025 comment rows land
    // in different range-clustered files, so a one-year read skips files
    val year = ManifestTable.readPruned(spark, outRoot, "comentarios", "anio", 2024L, 2024L)
    val (kept, total) = graft.etl.ManifestFileIndex.filesKept(year)
    assert(total >= 2L && kept < total, s"year skipping must drop files ($kept/$total)")
    assert(year.count() == comentarios.filter($"anio" === 2024).count())

    // Re-run from the same CSVs: a NEW committed version, identical state;
    // the previous version stays readable (snapshot isolation)
    val before = clientes.count()
    OpinionPipeline.runFromCsv(spark, csvDir, outRoot)
    assert(ManifestTable.current(spark, outRoot).get.version == 2L)
    assert(t("clientes").count() == before)
    assert(ManifestTable.readAt(spark, outRoot, "clientes", 1L).count() == before)
  }
}
