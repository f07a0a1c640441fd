package graft.component

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
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

  /** THE single-file CSV writer — output tables and `COPY ... TO`. One
    * staged part file behind a hand-written header row, quoted per
    * RFC 4180 (a quote inside a field is doubled; a backslash is data):
    * with the defaults, byte-compatible with the reference's `COPY ...
    * (HEADER, FORCE_QUOTE *)`. The header is written by hand and the data
    * rows headerless: Spark's CSV writer only emits a header from a
    * non-empty partition, while the reference writes one for empty
    * results too (every golden fixture of the heavy
    * `sync_action_execution_plan` case is a header-only file). */
  def writeSingleCsv(df: DataFrame, dest: Path, header: Boolean = true,
                     delimiter: String = ",", quote: String = "\"",
                     nullValue: String = "", forceQuote: Boolean = true): Unit =
    withStagedPart { stage =>
      csvOptions(df.coalesce(1).write, delimiter, quote, nullValue, forceQuote)
        .option("header", "false").mode("overwrite").csv(stage)
    } { part =>
      Files.createDirectories(dest.toAbsolutePath.getParent)
      val out = Files.newOutputStream(dest)
      try {
        if (header) {
          val line = df.columns
            .map(c => if (forceQuote) quote + c.replace(quote, quote + quote) + quote else c)
            .mkString("", delimiter, "\n")
          out.write(line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        part.foreach(p => Files.copy(p, out)) // zero rows ⇒ no part file
      } finally out.close()
    }

  /** The options of every CSV sink: RFC 4180 quoting (the quote doubles as
    * its own escape — Spark's default backslash escape is not CSV), the
    * reference's timestamp and date formats. */
  private[component] def csvOptions(w: DataFrameWriter[Row], delimiter: String,
                                    quote: String, nullValue: String,
                                    forceQuote: Boolean): DataFrameWriter[Row] =
    w.option("sep", delimiter)
      .option("quote", quote)
      .option("escape", quote)
      .option("nullValue", nullValue)
      .option("quoteAll", forceQuote.toString)
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .option("dateFormat", "yyyy-MM-dd")

  /** Run a one-part Spark write into a fresh temp dir and hand its part
    * file (None for zero rows) to `use`; the temp dir always goes. */
  private[component] def withStagedPart(write: String => Unit)(
      use: Option[Path] => Unit): Unit = {
    val tmp = Files.createTempDirectory("graft_stage_")
    try {
      val stage = tmp.resolve("stage").toString
      write(stage)
      val listing = Files.list(Paths.get(stage))
      val part =
        try listing.iterator().asScala
          .find(_.getFileName.toString.startsWith("part-"))
        finally listing.close()
      use(part)
    } finally {
      val walk = Files.walk(tmp)
      try walk.iterator().asScala.toSeq.reverse.foreach(p =>
        try Files.deleteIfExists(p) catch { case _: Exception => () })
      finally walk.close()
    }
  }
}
