package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The complete reference pipeline (ITLA-Dextron03/Proceso-de-ETL main.py),
  * re-expressed as lazy Spark dataflow (SURVEY.md §3 E1/E2/E3, §7 steps 1-5).
  *
  * Input: the six reference-shaped sources (FIXTURES.md §A). Output: the nine
  * star-schema tables of `Base de Datos Relacional copy.sql:47-139`, as
  * DataFrames published atomically through [[ManifestTable]] (one commit
  * file carries all nine tables — object-store-safe T1).
  *
  * Where the reference is an eager, single-process pandas script with a DB
  * round-trip per phase (extract -> load dims -> re-read id maps -> transform
  * -> load facts), this is one lazy DAG: dimension frames with generated
  * surrogate keys are reused directly as broadcast-join operands — the
  * "refresh id maps" round-trip (main.py:103-115) disappears.
  *
  * Every join here is a broadcast hash join at any scale (dimensions are
  * bounded: categories/classifications/sources are enums); the only shuffles
  * at 100 TB are the required-universe distinct and fact-side dedups, which
  * shuffle exactly once on their key.
  */
object OpinionPipeline {
  import CleaningOps._

  final case class Out(
      clientes: DataFrame, productos: DataFrame, categorias: DataFrame,
      clasificaciones: DataFrame, fuentes: DataFrame, registroCargas: DataFrame,
      comentarios: DataFrame, encuestas: DataFrame, webReviews: DataFrame)

  /** E3 (main.py:117-169) + dimension prep (main.py:88-101). */
  def transform(spark: SparkSession,
                clients: DataFrame, products: DataFrame, fuenteDatos: DataFrame,
                comments: DataFrame, surveys: DataFrame, reviews: DataFrame): Out = {

    // ---- dimensions from distinct extraction (A1/A2/A6, main.py:92-100) ----
    val categorias = Dimensions.buildDimension(products, "Categoría", "Nombre", "IdCategoria")
    val clasificaciones = Dimensions.buildDimension(surveys, "Clasificacion", "Nombre", "IdClasificacion")
    // Fuentes: distinct social-network names from the comments themselves
    // (main.py:94; sql:76-79 — "Ej: 'Instagram', 'Twitter', 'Facebook'").
    val fuentes = Dimensions.buildDimension(comments, "Fuente", "Nombre", "IdFuente")

    // RegistroCargas (the 9th star table, sql:69-73): keep-first on
    // TipoFuente, THEN parse FechaCarga and drop unparseable rows —
    // main.py:96-99 dedups before the date coerce, so a bad date on the
    // first occurrence of a Nombre drops that Nombre entirely.
    val cargasSrc = fuenteDatos
      .na.drop(Seq("TipoFuente")) // Nombre NOT NULL (sql:71)
      .withColumn("__ord", monotonically_increasing_id()) // file-order proxy, pre-shuffle
    val registroCargas = Dimensions.surrogateKeys(
        Dimensions.dedupKeepFirst(cargasSrc, Seq("TipoFuente"), "__ord")
          .withColumn("FechaCarga", coerceTimestamp(col("FechaCarga").cast("string")))
          .na.drop(Seq("FechaCarga"))
          .select(col("TipoFuente").as("Nombre"), col("FechaCarga")),
        "Nombre", "IdCarga")
      .select(col("IdCarga"), col("Nombre"), col("FechaCarga"))

    // ---- clientes chain (main.py:120-129) ----
    val clientesBase = clients
      .withColumn("IdCliente", coerceLong(col("IdCliente")))
      .na.drop(Seq("IdCliente"))
      .withColumn("__ord", monotonically_increasing_id())
    val clientesDedup = Dimensions.dedupKeepFirst(clientesBase, Seq("IdCliente"), "__ord")
      .drop("__ord")

    // Required universe of client ids across all three fact sources (A3).
    val required = EntityResolution.requiredUniverse("IdCliente",
      comments.select(cleanId(col("IdCliente"), "C").as("IdCliente")),
      surveys.select(coerceLong(col("IdCliente")).as("IdCliente")),
      reviews.select(cleanId(col("IdCliente"), "C").as("IdCliente")))

    // Placeholder clients for opinions with no master row (J4, main.py:124-127).
    // Synthesized rows get the @mail.com form (main.py:126); the
    // @placeholder.com form is only the duplicate-email rewrite (main.py:129).
    val placeholderRows = EntityResolution.placeholders(required, clientesDedup, "IdCliente") {
      id => Seq(id.as("IdCliente"), placeholderName(id).as("Nombre"),
                placeholderMailEmail(id).as("Email"))
    }

    // Union + duplicate-email rewrite (A4/P9, main.py:127-129), then the
    // DDL's declared widths — Nombre NVARCHAR(100), Email NVARCHAR(150)
    // (sql:49-50) — enforced engine-side: the one declared-constraint
    // class the reference delegates entirely to the database. NULLs pass
    // (CHECK semantics), so the reference's null-tolerant rows are
    // untouched.
    val clientes = EntityResolution.rewriteDupGroups(
      clientesDedup.select("IdCliente", "Nombre", "Email").unionByName(placeholderRows),
      key = "Email", target = "Email",
      replacement = placeholderEmail(col("IdCliente")))
      .filter(lengthCap(col("Nombre"), 100) && lengthCap(col("Email"), 150))

    // ---- productos: lookup-join to Categorias (J1, main.py:132-133) ----
    val productos = products
      .withColumn("IdProducto", coerceLong(col("IdProducto")))
      .na.drop(Seq("IdProducto"))
      .join(broadcast(categorias), trim(products("Categoría")) === categorias("Nombre"), "left")
      .select(col("IdProducto"), products("Nombre"), col("IdCategoria"))

    // ---- fact chains (main.py:138-160): clean -> validate -> map -> project ----
    val validClients = clientes.select("IdCliente")

    def factChain(src: DataFrame, idIsPrefixed: Boolean): DataFrame = {
      val cleaned =
        if (idIsPrefixed) src
          .withColumn("IdCliente", cleanId(col("IdCliente"), "C"))
          .withColumn("IdProducto", cleanId(col("IdProducto"), "P"))
        else src
          .withColumn("IdCliente", coerceLong(col("IdCliente")))
          .withColumn("IdProducto", coerceLong(col("IdProducto")))
      cleaned
        .na.drop(Seq("IdCliente", "IdProducto"))
        .join(validClients, Seq("IdCliente"), "left_semi") // J3 FK validity
    }

    // IdCarga is a scalar lookup — id_maps['cargas'].get('Archivo'/'Web')
    // (main.py:151,159): a 0-or-1-row broadcast against the dimension. When
    // the Nombre is absent the left join yields null and the NOT-NULL drop
    // below removes every row, exactly like pandas' .get() -> None -> dropna.
    def withCargaId(df: DataFrame, nombre: String): DataFrame =
      df.join(broadcast(registroCargas.filter(col("Nombre") === nombre)
          .select(col("IdCarga"))), lit(true), "left")

    // Null-FK drops mirror main.py exactly: comentarios drop null IdFuente
    // (main.py:143), encuestas null IdClasificacion/IdCarga (main.py:152),
    // webReviews null IdCarga (main.py:160). Fecha is parsed for the
    // partitioned sink but never used as a drop key — the reference doesn't
    // filter on it.
    val comentarios = factChain(comments, idIsPrefixed = true)
      .join(broadcast(fuentes.withColumnRenamed("Nombre", "__fn")),
        comments("Fuente") === col("__fn"), "left")
      .na.drop(Seq("IdFuente"))
      .withColumn("Fecha", coerceTimestamp(col("Fecha").cast("string")).cast("date"))
      .select(col("IdComment"), col("IdCliente"), col("IdProducto"),
        col("IdFuente"), col("Fecha"), col("comentario").as("Comentario"))

    val encuestas = withCargaId(factChain(surveys, idIsPrefixed = false), "Archivo")
      .join(broadcast(clasificaciones.withColumnRenamed("Nombre", "__cn")),
        surveys("Clasificacion") === col("__cn"), "left")
      .na.drop(Seq("IdClasificacion", "IdCarga"))
      .withColumn("Fecha", coerceTimestamp(col("Fecha").cast("string")).cast("date"))
      .filter(checkRange(col("PuntajeSatisfaccion"), 1, 5)) // P12 (sql:115)
      .select(col("IdOpinion"), col("IdCliente"), col("IdProducto"),
        col("IdCarga"), col("Fecha"),
        col("Comentario"), col("IdClasificacion"), col("PuntajeSatisfaccion"))

    val webReviews = withCargaId(factChain(reviews, idIsPrefixed = true), "Web")
      .na.drop(Seq("IdCarga"))
      .withColumn("Fecha", coerceTimestamp(col("Fecha").cast("string")).cast("date"))
      .filter(checkRange(col("Rating"), 1, 5)) // P12 (sql:132)
      .select(col("IdReview"), col("IdCliente"), col("IdProducto"),
        col("IdCarga"), col("Fecha"), col("Comentario"), col("Rating"))

    Out(clientes, productos, categorias, clasificaciones, fuentes, registroCargas,
      comentarios, encuestas, webReviews)
  }

  /** The complete reference program (main.py:197-214) in one call: read
    * the six CSVs (S1, explicit schemas), transform (E3), publish the
    * star schema atomically (T1) with year-partitioned facts (S5). This is
    * the drop-in replacement entry point for a user of the reference. */
  def runFromCsv(spark: SparkSession, csvDir: String, outRoot: String): Out = {
    val srcs = graft.sources.CsvSources.readAll(spark, csvDir)
      .map { case (k, v) => k -> v.drop("_corrupt") }
    val out = transform(spark,
      srcs("clients"), srcs("products"), srcs("fuente_datos"),
      srcs("social_comments"), srcs("surveys"), srcs("web_reviews"))
    run(spark, out, outRoot)
    out
  }

  /** The nine-table star as publish inputs — ONE definition shared by
    * [[run]] and [[runChecked]] so the two entry points cannot drift.
    * Explicit partition count = user-specified partitioning, which AQE
    * preserves (no coalescing across year boundaries); Fecha as the
    * secondary range key keeps per-file date ranges tight when a year
    * spans many files at scale. */
  private def starTables(spark: SparkSession,
                         out: Out): (Map[String, DataFrame], Map[String, String]) = {
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def fact(df: DataFrame): DataFrame =
      df.withColumn("anio", year(col("Fecha")))
        .repartitionByRange(shufflePartitions, col("anio"), col("Fecha"))
    (Map(
      "clientes" -> out.clientes,
      "productos" -> out.productos,
      "categorias" -> out.categorias,
      "clasificaciones" -> out.clasificaciones,
      "fuentes" -> out.fuentes,
      "registrocargas" -> out.registroCargas,
      "comentarios" -> fact(out.comentarios),
      "encuestas" -> fact(out.encuestas),
      "webreviews" -> fact(out.webReviews)),
      Map("comentarios" -> "anio", "encuestas" -> "anio",
        "webreviews" -> "anio"))
  }

  /** E1 end-to-end: transform + atomic multi-table publish (T1) through
    * [[ManifestTable.publish]] — ALL NINE star tables become visible in one
    * commit-file PUT, so the reference's one-transaction load
    * (main.py:173-195) is all-or-nothing even on object stores, where a
    * directory rename is not atomic.
    * Earlier versions keep serving readers until [[ManifestTable.vacuum]]
    * (snapshot isolation), and a crashed publish leaves only orphan data
    * files — the previous star is untouched.
    *
    * S5 year partitioning survives the move: facts carry the derived `anio`
    * column, are RANGE-CLUSTERED on (anio, Fecha) at write time (a data
    * file spans one year except at range boundaries), and register `anio`
    * min/max per file in the manifest — so
    * [[ManifestTable.readPruned]] on a year range opens only that year's
    * files, the same pruning the reference delegates to its yearly
    * filegroups (sql:83-90) and Hive-style `partitionBy` gives on
    * directories. Returns the committed version. */
  def run(spark: SparkSession, out: Out, root: String): Long = {
    val (tables, statsCols) = starTables(spark, out)
    ManifestTable.publish(spark, root, tables, statsCols)
  }

  /** Conform the fact tables to the DDL's PRODUCT foreign key — the one
    * constraint main.py does NOT pre-validate (it filters clients only,
    * main.py:142,150,159), so on any extract where a fact cites an
    * unknown product the reference's own load CRASHES: the database
    * rejects the INSERT (sql:101,118,135) and the transaction rolls
    * back. [[runChecked]] surfaces exactly that as a clean abort; this
    * utility is the repair when dropping orphan facts is the intended
    * policy (the same semi-join discipline the client FK already gets).
    */
  def conformFacts(out: Out): Out = {
    val validP = out.productos.select("IdProducto")
    def f(df: DataFrame) = df.join(validP, Seq("IdProducto"), "left_semi")
    out.copy(comentarios = f(out.comentarios), encuestas = f(out.encuestas),
      webReviews = f(out.webReviews))
  }

  /** [[run]] gated by the DDL's declared constraints
    * (`Base de Datos Relacional copy.sql:47-139`): the database the
    * reference loads into would REJECT a violating INSERT and roll the
    * whole transaction back; this is that semantics engine-side
    * (SURVEY §1.3) — PK/UNIQUE uniqueness, NOT NULLs, CHECK ranges and
    * NVARCHAR widths all verified BEFORE a single file is written, any
    * violation aborting with the previous star version still serving.
    * The transform already establishes these invariants by
    * construction; the gate is the independent proof at load time, the
    * role the DB played for the reference. */
  def runChecked(spark: SparkSession, out: Out, root: String): Long = {
    val (tables, statsCols) = starTables(spark, out)
    def dimChecks(nameCap: Int = 100) = Seq(
      ("nombre_not_null", col("Nombre").isNotNull),
      ("nombre_width", lengthCap(col("Nombre"), nameCap)))
    ManifestTable.publishChecked(spark, root, tables,
      checks = Map(
        // sql:48-50: PK int, Nombre NVARCHAR(100) NOT NULL, Email 150
        "clientes" -> (dimChecks() :+
          ("email_width", lengthCap(col("Email"), 150))),
        "categorias" -> dimChecks(),       // sql:54-55
        "clasificaciones" -> dimChecks(50), // sql:66-67
        "fuentes" -> dimChecks(),          // sql:78-79
        "registrocargas" -> (dimChecks(50) :+ // sql:72-74
          ("fecha_not_null", col("FechaCarga").isNotNull)),
        // fact NOT NULLs (sql:93-98,108-113,126-130) + CHECK 1..5
        // (sql:115,132); Fecha nullability mirrors main.py (never a
        // drop key), so it is deliberately unchecked
        "comentarios" -> Seq(
          ("fk_cols_not_null", col("IdCliente").isNotNull &&
            col("IdProducto").isNotNull && col("IdFuente").isNotNull)),
        "encuestas" -> Seq(
          ("fk_cols_not_null", col("IdCliente").isNotNull &&
            col("IdProducto").isNotNull && col("IdClasificacion").isNotNull
            && col("IdCarga").isNotNull),
          ("puntaje_check", checkRange(col("PuntajeSatisfaccion"), 1, 5))),
        "webreviews" -> Seq(
          ("fk_cols_not_null", col("IdCliente").isNotNull &&
            col("IdProducto").isNotNull && col("IdCarga").isNotNull),
          ("rating_check", checkRange(col("Rating"), 1, 5)))),
      uniqueKeys = Map(
        "clientes" -> Seq(Seq("IdCliente"), Seq("Email")), // sql:48,50
        "productos" -> Seq(Seq("IdProducto")),             // sql:59
        "categorias" -> Seq(Seq("IdCategoria"), Seq("Nombre")),
        "clasificaciones" -> Seq(Seq("IdClasificacion"), Seq("Nombre")),
        "fuentes" -> Seq(Seq("IdFuente"), Seq("Nombre")),
        "registrocargas" -> Seq(Seq("IdCarga"), Seq("Nombre"))),
      // the DDL's FOREIGN KEY clauses (sql:62,100-102,117-120,134-136);
      // note main.py only validates the CLIENT FK itself — the others
      // it delegates to the database, which is exactly this gate
      foreignKeys = Seq(
        ("fk_productos_categoria", "productos", Seq("IdCategoria"),
          "categorias", Seq("IdCategoria")),
        ("fk_comentarios_cliente", "comentarios", Seq("IdCliente"),
          "clientes", Seq("IdCliente")),
        ("fk_comentarios_producto", "comentarios", Seq("IdProducto"),
          "productos", Seq("IdProducto")),
        ("fk_comentarios_fuente", "comentarios", Seq("IdFuente"),
          "fuentes", Seq("IdFuente")),
        ("fk_encuestas_cliente", "encuestas", Seq("IdCliente"),
          "clientes", Seq("IdCliente")),
        ("fk_encuestas_producto", "encuestas", Seq("IdProducto"),
          "productos", Seq("IdProducto")),
        ("fk_encuestas_clasificacion", "encuestas", Seq("IdClasificacion"),
          "clasificaciones", Seq("IdClasificacion")),
        ("fk_encuestas_carga", "encuestas", Seq("IdCarga"),
          "registrocargas", Seq("IdCarga")),
        ("fk_webreviews_cliente", "webreviews", Seq("IdCliente"),
          "clientes", Seq("IdCliente")),
        ("fk_webreviews_producto", "webreviews", Seq("IdProducto"),
          "productos", Seq("IdProducto")),
        ("fk_webreviews_carga", "webreviews", Seq("IdCarga"),
          "registrocargas", Seq("IdCarga"))),
      statsCols = statsCols)
  }

  /** Manifest-resolved read of a published star table (the reader twin of
    * [[run]]): resolves the latest committed version's exact file list. */
  def readTable(spark: SparkSession, root: String, table: String): DataFrame =
    ManifestTable.read(spark, root, table)
}
