package graft.component

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructField

/** Output export (reference A6–A10, `src/component.py:155-182`): each
  * output-mapping table is written as ONE CSV file with header and every
  * field quoted (`COPY ... (HEADER, FORCE_QUOTE *)` equivalent), plus the
  * output manifest carrying destination/pk/incremental and the schema
  * down-mapped to base types.
  *
  * Spark writes directories of part files; `coalesce(1)` + rename produces
  * the single-file contract. The coalesce is an export-boundary cost only —
  * upstream transforms keep full parallelism, and a view's trailing ORDER
  * BY survives because the sort sits above the final exchange.
  */
object Export {

  def exportAll(spark: SparkSession, dataDir: String, config: Config): Unit = {
    config.outputTables.foreach(t => exportTable(spark, dataDir, t))
    exportFileManifests(dataDir, config)
  }

  /** A10: each CONFIGURED output-file mapping gets a file manifest so the
    * platform ships it onward (reference `src/component.py:184-194` walks
    * `files_output_mapping`, not the directory — unmapped files like a
    * `.gitkeep` are left alone). */
  def exportFileManifests(dataDir: String, config: Config): Unit = {
    val filesDir = Paths.get(dataDir, "out", "files")
    config.outputFiles.foreach { f =>
      val m = filesDir.resolve(f.source + ".manifest")
      Files.createDirectories(filesDir)
      val tags = f.tags.map(t =>
        "\"" + t.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
        .mkString("[", ", ", "]")
      Files.writeString(m, s"""{"tags": $tags, "is_permanent": ${f.isPermanent}}""")
    }
  }

  def exportTable(spark: SparkSession, dataDir: String, out: OutputTable): Unit = {
    val df = enumLabels(spark.table(s"`${Names.view(out.source)}`"))
    val dest = Paths.get(dataDir, "out", "tables", out.source)
    writeSingleCsv(df, dest)
    Manifest.writeOutput(
      Paths.get(dataDir, "out", "tables", out.source + ".manifest"), out, df.schema)
  }

  /** ENUM columns as their LABELS (probed v1.0: COPY TO csv writes `ok`,
    * not an index) — the cast-to-string lowers through DuckEnumRule's
    * decode; every other column is untouched. */
  private[component] def enumLabels(df: DataFrame): DataFrame = {
    def isEnum(f: StructField) =
      graft.functions.EnumExprs.enumNameOf(f.dataType).isDefined
    if (!df.schema.exists(isEnum)) df
    else df.select(df.schema.fields.toIndexedSeq.map { f =>
      if (isEnum(f)) df.col(s"`${f.name}`").cast("string").as(f.name)
      else df.col(s"`${f.name}`")
    }: _*)
  }

  /** Single CSV file, header row, all fields quoted — byte-compatible with
    * the reference's `COPY ... (HEADER, FORCE_QUOTE *)`. The header line is
    * written by hand and the data rows headerless: Spark's CSV writer only
    * emits a header from a non-empty partition, while the reference writes
    * one for empty results too (every golden fixture of the heavy
    * `sync_action_execution_plan` case is a header-only file). */
  def writeSingleCsv(df: DataFrame, dest: Path): Unit = {
    val tmp = Files.createTempDirectory("graft_csv_")
    val stage = tmp.resolve("stage").toString
    df.coalesce(1).write
      .option("header", "false")
      .option("quoteAll", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .option("dateFormat", "yyyy-MM-dd")
      .mode("overwrite")
      .csv(stage)
    val listing = Files.list(Paths.get(stage))
    val part =
      try listing.iterator().asScala
        .find(_.getFileName.toString.startsWith("part-"))
      finally listing.close()
    Files.createDirectories(dest.getParent)
    val header = df.columns
      .map(c => "\"" + c.replace("\"", "\"\"") + "\"")
      .mkString("", ",", "\n")
    val out = Files.newOutputStream(dest)
    try {
      out.write(header.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      part.foreach(p => Files.copy(p, out)) // zero rows ⇒ no part file
    } finally out.close()
    // best-effort cleanup of the staging dir
    val walk = Files.walk(tmp)
    try walk.iterator().asScala.toSeq.reverse.foreach(p =>
      try Files.deleteIfExists(p) catch { case _: Exception => () })
    finally walk.close()
  }
}
