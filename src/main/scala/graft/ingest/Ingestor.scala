package graft.ingest

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.llm.{LlmCallback, Prompts}
import graft.text2sql.SqlText

/** Per-table ingestion metadata — the engine's analog of the
  * reference's ingestion_result dict (reference
  * pandasqlite/pandasqlite.py:102-111).
  */
case class IngestResult(
    context: Option[String],
    columnTypes: Map[String, String],
    valueFormat: collection.Map[String, Seq[Any]],
    columnDescriptions: Map[String, String],
    enumDescriptions: Map[String, Map[String, String]],
    sqlCurriculum: Seq[(String, String)], // (question, sql)
    hash: String,
    ddl: String,
    /** Modality kind per column (SURVEY.md §2C ext_multimodal_col):
      * the typed side-channel that extends the reference's three
      * LLM-estimated logical types. Derived from the physical schema,
      * not the LLM: MEDIA (binary), EMBEDDING (array<float/double>),
      * DATETIME, NUMBER, TEXT.
      */
    columnKinds: Map[String, String] = Map.empty)

/** Spark-native ingestion pipeline (reference ingest(), :57-180):
  * sanitize → content-hash → register table under its hash → DDL from
  * the StructType → one seeded snapshot (reused by all prompts — the
  * reference resamples 3×, unseeded) → LLM: types, descriptions, enum
  * descriptions, SQL curriculum → JSON metadata cache + lookup-by-hash
  * re-entry.
  *
  * Tables are registered as temp views named by content hash — the
  * analog of df.to_sql(hash) into one SQLite db (:115) — so generated
  * SQL runs directly via spark.sql against `hash`-quoted views.
  */
object Ingestor {
  import org.apache.spark.sql.types._

  class HashNotFoundException(hash: String)
    extends RuntimeException(s"Hash not found: $hash")

  /** Schema-derived modality kind per column. */
  def columnKinds(schema: StructType): Map[String, String] =
    schema.fields.map { f =>
      val kind = f.dataType match {
        case BinaryType => "MEDIA"
        case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => "EMBEDDING"
        case DateType | TimestampType | TimestampNTZType => "DATETIME"
        case _: NumericType => "NUMBER"
        case _ => "TEXT"
      }
      f.name.toLowerCase -> kind
    }.toMap

  def defaultCacheDir: String =
    sys.env.getOrElse("GRAFT_CACHE_DIR", "cache")

  /** Ingest DataFrames (or re-enter a previous ingestion by hash). */
  def ingest(spark: SparkSession, dfs: Seq[DataFrame], llm: LlmCallback,
             cacheDir: String = defaultCacheDir,
             context: Option[String] = None): (Seq[IngestResult], String) = {
    val sanitized = dfs.map(Sanitize.sanitizeColumns)
    val tableHashes = sanitized.map(Hashing.tableHash)
    val dfsHash = Hashing.ingestionHash(tableHashes)

    // cache hit: reload metadata, re-register cached tables — no LLM
    // involved (and none required: sanity is only probed before the
    // calls that actually hit the model). The cache key is the DATA
    // content; a caller-supplied context overrides the cached one so
    // new documentation is never silently dropped.
    // the table hash covers each frame's schema, so a hit's payloads
    // are read with the schema already in hand — no per-table footer
    // inference job
    val schemas = tableHashes.zip(sanitized.map(_.schema)).toMap
    val cached = loadCache(spark, dfsHash, cacheDir, schemas.get)
    if (cached.isDefined) {
      val results =
        if (context.isDefined) cached.get.map(_.copy(context = context))
        else cached.get
      return (results, dfsHash)
    }

    require(LlmCallback.sanityCheck(llm),
      "LLM sanity check failed — provide a working callback")

    val results = sanitized.zip(tableHashes).map { case (df, h) =>
      ingestOne(spark, df, h, llm, context)
    }
    writeCache(spark, sanitized, results, dfsHash, cacheDir)
    (results, dfsHash)
  }

  /** Lookup-by-hash re-entry (reference :71-72, :88-89 — fixed: raises
    * a real exception type, not a string).
    */
  def ingestByHash(spark: SparkSession, dfsHash: String,
                   cacheDir: String = defaultCacheDir): (Seq[IngestResult], String) =
    loadCache(spark, dfsHash, cacheDir)
      .map(r => (r, dfsHash))
      .getOrElse(throw new HashNotFoundException(dfsHash))

  private def ingestOne(spark: SparkSession, df: DataFrame, tableHash: String,
                        llm: LlmCallback, context: Option[String]): IngestResult = {
    df.createOrReplaceTempView(tableHash)
    val ddl = Ddl.createTable(tableHash, df.schema)

    // ONE seeded snapshot reused by every prompt (fix of the
    // reference's triple unseeded resample, :126/:133/:141/:163)
    val snap = Snapshot.snapshot(df)
    val snapJson = Json.write(snap)
    val reverse = Sanitize.reverseLookup(df.columns.toIndexedSeq)

    val typesRaw = LlmCallback.truncateAtStop(
      llm(Prompts.columnTypes + snapJson + "\nOUTPUT:"))
    val columnTypes = Json.parseObject(typesRaw)
      .map { case (k, v) => k -> v.toString }.toMap

    val descRaw = LlmCallback.truncateAtStop(
      llm(Prompts.columnDescriptions + snapJson + "\nOUTPUT:"))
    val columnDescriptions = Json.parseObject(descRaw)
      .map { case (k, v) => k -> v.toString }.toMap

    val enumCols = columnTypes.collect {
      case (k, "ENUM") if reverse.contains(k.toLowerCase) => reverse(k.toLowerCase)
    }.toSeq
    val enumValues = Snapshot.distinctValues(df, enumCols)
    val enumRaw = LlmCallback.truncateAtStop(
      llm(Prompts.enumDescriptions + Json.write(enumValues) + "\nOUTPUT:"))
    val enumDescriptions = Json.parseObject(enumRaw).map { case (k, v) =>
      k -> v.asInstanceOf[collection.Map[String, Any]]
        .map { case (k2, v2) => k2 -> v2.toString }.toMap
    }.toMap

    val currRaw0 = LlmCallback.truncateAtStop(
      llm(Prompts.sqlCurriculum + snapJson + "\nOUTPUT:"))
    // leading-[ repair for truncated LLM JSON (reference :165-166)
    val currRaw = if (currRaw0.trim.startsWith("[")) currRaw0 else "[" + currRaw0
    val curriculum =
      try Json.parseArray(currRaw).map { m =>
        val q = m.getOrElse("question", "").toString
        // identifier-aware binding of the generic name `table` to the
        // content hash (fix of the reference's substring replace that
        // corrupts words containing "table", :169)
        val sql = Text2SqlSubst.bindTable(m.getOrElse("sql", "").toString, tableHash)
        (q, sql)
      }
      catch { case _: Exception => Seq.empty }

    IngestResult(context, columnTypes, snap, columnDescriptions,
      enumDescriptions, curriculum, tableHash, ddl,
      columnKinds = columnKinds(df.schema))
  }

  // ---- cache: JSON metadata + parquet table payloads, keyed by hash ----

  private def cachePaths(dfsHash: String, cacheDir: String) =
    (Paths.get(cacheDir, s"$dfsHash.json"), Paths.get(cacheDir, dfsHash))

  /** Re-register a cached ingestion's payloads; a payload whose
    * schema `schemaOf` knows is read with it, any other infers it from
    * the parquet footers (one job per table). */
  private def loadCache(spark: SparkSession, dfsHash: String,
                        cacheDir: String,
                        schemaOf: String => Option[StructType] = _ => None)
      : Option[Seq[IngestResult]] = {
    val (metaPath, tablesDir) = cachePaths(dfsHash, cacheDir)
    if (!Files.exists(metaPath)) return None
    val metas = Json.parseArray(Files.readString(metaPath))
    Some(metas.map { m =>
      val h = m("hash").toString
      val parquet = tablesDir.resolve(h)
      if (Files.exists(parquet)) {
        val reader = schemaOf(h).fold(spark.read)(spark.read.schema(_))
        reader.parquet(parquet.toString).createOrReplaceTempView(h)
      }
      IngestResult(
        context = Option(m.getOrElse("context", null)).map(_.toString),
        columnTypes = asStrMap(m("column_types")),
        valueFormat = m("value_format").asInstanceOf[collection.Map[String, Any]]
          .map { case (k, v) => k -> v.asInstanceOf[Seq[Any]] },
        columnDescriptions = asStrMap(m("column_descriptions")),
        enumDescriptions = m("enum_descriptions")
          .asInstanceOf[collection.Map[String, Any]]
          .map { case (k, v) => k -> asStrMap(v) }.toMap,
        sqlCurriculum = m("sql_curriculum").asInstanceOf[Vector[Any]]
          .map { e =>
            val em = e.asInstanceOf[collection.Map[String, Any]]
            (em("question").toString, em("sql").toString)
          },
        hash = h,
        ddl = m("ddl").toString,
        columnKinds = m.get("column_kinds").map(asStrMap).getOrElse(Map.empty))
    })
  }

  private def asStrMap(v: Any): Map[String, String] =
    v.asInstanceOf[collection.Map[String, Any]]
      .map { case (k, vv) => k -> vv.toString }.toMap

  private def writeCache(spark: SparkSession, dfs: Seq[DataFrame],
                         results: Seq[IngestResult], dfsHash: String,
                         cacheDir: String): Unit = {
    val (metaPath, tablesDir) = cachePaths(dfsHash, cacheDir)
    Files.createDirectories(tablesDir)
    dfs.zip(results).foreach { case (df, r) =>
      df.write.mode("overwrite").parquet(tablesDir.resolve(r.hash).toString)
    }
    val metaJson = results.map { r =>
      Json.write(scala.collection.mutable.LinkedHashMap[String, Any](
        "context" -> r.context.orNull,
        "column_types" -> r.columnTypes,
        "value_format" -> r.valueFormat,
        "column_descriptions" -> r.columnDescriptions,
        "enum_descriptions" -> r.enumDescriptions,
        "sql_curriculum" -> r.sqlCurriculum.map(qs =>
          scala.collection.mutable.LinkedHashMap[String, Any](
            "question" -> qs._1, "sql" -> qs._2)),
        "hash" -> r.hash,
        "ddl" -> r.ddl,
        "column_kinds" -> r.columnKinds))
    }.mkString("[", ",", "]")
    Files.writeString(metaPath, metaJson)
  }
}

/** Identifier-aware `table` → content-hash rewrite shared by ingest
  * (curriculum SQL, reference :169) and text2sql (generated SQL,
  * reference :247). The reference's raw substring replace corrupts
  * any SQL containing the letters "table" (e.g. "tables", column
  * names); this version rewrites only the standalone identifier — bare
  * in code, or as the whole backtick-quoted name — and quotes with
  * backticks (Spark SQL) instead of single quotes (SQLite). Literals,
  * other quoted names and comments are untouched.
  */
object Text2SqlSubst {
  def bindTable(sql: String, tableHash: String): String = {
    val bound = s"`$tableHash`"
    val out = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val e = SqlText.skipOpaque(sql, i)
      if (e > i) {
        out ++= (if (sql.substring(i, e).equalsIgnoreCase("`table`")) bound
                 else sql.substring(i, e))
        i = e
      } else if (SqlText.keywordAt(sql, i, "table") &&
                 !(i > 0 && sql.charAt(i - 1) == '.')) {
        out ++= bound; i += 5
      } else { out += sql.charAt(i); i += 1 }
    }
    out.result().trim
  }
}
