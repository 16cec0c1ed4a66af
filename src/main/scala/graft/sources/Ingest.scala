package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest-boundary helpers mirroring the reference's uniform load behavior
  * (`pd_load_dataframe`, /root/reference/_gui.py:203-276): −99 sentinel
  * masking, condition filtering, column-synonym resolution. Internally the
  * engine uses true SQL NULL; −99 exists only at the ingest/egress boundary
  * (SURVEY.md §1.4). */
object Ingest {

  /** Master extension-based load dispatch — the engine's
    * `pd_load_dataframe` (/root/reference/_gui.py:203-276): route by file
    * extension, apply the −99 sentinel mask (opt-out `keepNull`) and the
    * condition filter uniformly. Separator for delimited text is sniffed
    * from the header line like the reference's csv.Sniffer. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String,
      condition: String = "", keepNull: Boolean = false): DataFrame = {
    // `path!sheet` selects an Excel sheet (reference table_name_selector,
    // _gui.py:141-148) — strip for extension detection only
    val lower = path.toLowerCase.split('!')(0)
    val ext = lower.substring(lower.lastIndexOf('.') + 1)
    val raw = ext match {
      case "csv" | "txt" | "prn" | "asc" =>
        spark.read.option("header", "true").option("inferSchema", "true")
          .option("sep", sniffSep(path)).csv(path)
      case "json" | "jsdb" => spark.read.json(path)
      case "parquet" => spark.read.parquet(path)
      case "xlsx" => XlsxCodec.read(spark, path)
      case "xls" => XlsCodec.read(spark, path)
      case "las" => LasCodec.read(spark, path)
      case "png" | "bmp" | "gif" | "jpg" | "jpeg" =>
        SpectralCodec.read(spark, path)
      case "tif" | "tiff" => GeoTiffCodec.read(spark, path)
      case "shp" => ShpCodec.read(spark, path)
      case "dxf" => DxfCodec.read(spark, path)
      case "vtk" => // grid file → block-model table (cell data + centers)
        VtkLegacy.readGrid(path).toDf(spark)
      case other =>
        throw new IllegalArgumentException(s"unsupported source extension: $other")
    }
    val masked = if (keepNull) raw else maskSentinel(raw)
    filterCondition(masked, condition)
  }

  /** Header-line separator sniff (comma/semicolon/tab/space — the
    * reference uses csv.Sniffer, _gui.py:225-226). */
  def sniffSep(path: String): String = {
    val target: Option[String] =
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(path))) {
        val files = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
          .sortBy(_.getName)
        // prefer a .csv-named part, else sniff any data file; none → default
        files.find(_.getName.endsWith(".csv")).orElse(files.headOption).map(_.getPath)
      } else Some(path)
    target match {
      case None => ","
      case Some(f) =>
        val src = scala.io.Source.fromFile(f)
        val header = try src.getLines().take(1).toSeq.headOption.getOrElse("")
        finally src.close()
        Seq(",", ";", "\t", " ").maxBy(s =>
          header.split(java.util.regex.Pattern.quote(s), -1).length)
    }
  }

  /** Replace the −99 null sentinel with SQL NULL in every numeric column —
    * `df.mask(df == -99)` applied on load unless `keep_null`
    * (/root/reference/_gui.py:269-270, Vulcan convention). */
  def maskSentinel(df: DataFrame, sentinel: Double = -99.0): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: NumericType =>
          when(col(f.name) === lit(sentinel).cast(f.dataType), lit(null))
            .otherwise(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Inverse boundary op for egress: NULL → −99 in numeric columns. */
  def unmaskSentinel(df: DataFrame, sentinel: Double = -99.0): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: NumericType =>
          coalesce(col(f.name), lit(sentinel).cast(f.dataType)).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Condition filter: a SQL boolean expression applied right after load
    * (/root/reference/_gui.py:273-275 — pandas `df.query`; Spark SQL
    * expressions are a superset of that grammar). */
  def filterCondition(df: DataFrame, condition: String): DataFrame =
    if (condition == null || condition.trim.isEmpty) df
    else df.filter(expr(condition))

  /** Coordinate-column synonym search (`pd_detect_xyz` + `pd_synonyms`,
    * /root/reference/_gui.py:278-328): candidate triplets tried in order,
    * case-insensitively. Returns the actual column names. */
  val xyzSynonyms: Seq[Seq[String]] = Seq(
    Seq("x", "y", "z"),
    Seq("midx", "midy", "midz"),
    Seq("xc", "yc", "zc"),
    Seq("centroid_x", "centroid_y", "centroid_z"),
    Seq("leste", "norte", "cota"),
    Seq("east", "north", "elevation"))

  def detectXyz(columns: Seq[String]): Option[Seq[String]] = {
    val byLower = columns.map(c => c.toLowerCase -> c).toMap
    xyzSynonyms.iterator
      .map(t => t.flatMap(s => byLower.get(s)))
      .collectFirst { case t if t.length == 3 => t }
  }
}
