package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** File-format ingest surface (SURVEY.md §2.1 ✗ rows): the reference pulls
  * spreadsheet/CSV exports and round-trips JSON spec documents; here those
  * are schema-first readers over pre-staged files. Always pass an explicit
  * schema — schema inference is a full extra pass over 100 TB.
  */
object Sources {

  def readCsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true, delimiter: String = ","): DataFrame =
    spark.read
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .schema(schema)
      .csv(path)

  def readJsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Multi-part parquet sink, Hive-partitioned by `partitionBy` when
    * given (the cluster layout): writes `stageDocumentsByLang`'s
    * `lang=<v>/` tree. */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Export sinks for the reference's spreadsheet/JSON interchange surface.
    * Each task writes its own part file — no driver round-trip, no
    * coalesce(1): at cluster scale a single-file export is a downstream
    * concatenation concern, not the engine's. Ingest twins above
    * round-trip them schema-first (SourcesSpec).
    */
  def writeCsv(df: DataFrame, path: String, header: Boolean = true,
      delimiter: String = ","): Unit =
    df.write.mode("overwrite")
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .csv(path)

  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** ORC ingest/export — the columnar interchange format besides parquet
    * that ships in spark-sql with no extra connector (predicate pushdown
    * and column pruning work the same way). Schema-first like the text
    * readers; the writer is multi-part like the other sinks.
    */
  def readOrc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Bumped whenever any stage* writer below changes shape (columns,
    * format, partitioning) — it participates in the cache key, so edited
    * staging code can never keep serving sidecars written by the old
    * code. */
  private val StageFormatVersion = 2

  /** One staging mechanism for every derived fixture layout below: a
    * per-sfDir cache dir under java.io.tmpdir, keyed by the sanitized
    * path PLUS its hash (two dirs that sanitize alike must not share a
    * cache) PLUS the source `documents.parquet`'s (length, mtime) and
    * the writer-format version. Keying on source identity makes
    * invalidation direction-free: a regenerated fixture gets a new key
    * even if its mtime moved BACKWARD (tar/mv preserve original
    * timestamps, which a newer-than comparison misses), and a writer
    * change re-stages via the version bump. Stale keys are simply
    * abandoned under tmpdir.
    */
  private def stage(spark: SparkSession, sfDir: String, name: String)(
      write: (DataFrame, String) => Unit): String = synchronized {
    val safe = sfDir.replaceAll("[^A-Za-z0-9._-]", "_") +
      f"-${sfDir.hashCode & 0xffffff}%06x"
    val source = new java.io.File(s"$sfDir/documents.parquet")
    val srcKey = s"v$StageFormatVersion-${source.length()}-${source.lastModified()}"
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_stage/$safe/$name-$srcKey"
    val marker = new java.io.File(s"$out/_SUCCESS")
    if (!marker.exists())
      write(graft.Tables.documents(spark, sfDir), out)
    out
  }

  /** Hive-partitioned documents layout (`lang=<v>/part-*.parquet`). This
    * exists because the driver fixtures are single parquet files: on a
    * real lake the table is ALREADY laid out this way and
    * `scan_partitioned` reads it directly — partition pruning is the
    * single biggest scan lever at 100 TB (a one-lang query must read one
    * directory, not the corpus).
    */
  def stageDocumentsByLang(spark: SparkSession, sfDir: String): String =
    stage(spark, sfDir, "documents_by_lang")(
      (df, out) => writeParquet(df, out, Seq("lang")))

  /** CSV / JSON-lines sidecars for the keyed ingest queries (`ingest_csv`,
    * `ingest_json`): the driver fixtures ship only parquet, so the text
    * files are derived from `documents` once per sf dir — which is also
    * what makes them ORACLE-comparable: DuckDB reads the parquet original,
    * Spark reads the staged text, and a hash match proves every cell
    * survived the format round-trip. Metadata columns only (doc_id, lang,
    * source, n_chars — verified delimiter-free domains); free text stays
    * in parquet where escaping is the format's problem, not the query's.
    */
  def stageDocumentsCsv(spark: SparkSession, sfDir: String): String =
    stage(spark, sfDir, "documents_csv")(
      (df, out) => writeCsv(df.select("doc_id", "lang", "source", "n_chars"), out))

  def stageDocumentsJsonl(spark: SparkSession, sfDir: String): String =
    stage(spark, sfDir, "documents_jsonl")(
      (df, out) => writeJsonLines(df.select("doc_id", "lang", "source", "n_chars"), out))
}
