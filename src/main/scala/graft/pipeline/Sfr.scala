package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.sources.Fits

/** SFR catalog merge (`hisscube/processors/sfr.py`):
  * S6 FITS-table source → J4 positional column-concat of gal_info with
  * gal_fibsfr → J5 left join onto spectra metadata by (PLATEID, MJD,
  * FIBERID).
  */
object Sfr {

  val IgnoreInfoCols: Seq[String] =
    Seq("PHOTOID", "PLUG_MAG", "SPECTRO_MAG", "KCOR_MAG", "KCOR_MODEL_MAG")

  /** S6: read a FITS binary table into a DataFrame. Scalar numeric and
    * string columns become primitives; array columns become
    * array<double>.
    *
    * Driver-side decode by design: this is the CATALOG path (gal_info /
    * gal_fibsfr, ~10⁵ rows), read once and joined broadcast-side. A
    * large FITS table belongs on the distributed path instead —
    * `binaryFile` scan + per-executor `Fits.readBinTable` decode, as
    * [[Ingest.spectra]] does for observation files. */
  def readFitsTable(spark: SparkSession, path: String): DataFrame = {
    val bytes = Fits.maybeDecompress(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), path)
    val hdus = Fits.readHdus(bytes)
    val tableHdu = hdus.find(_.header.get("XTENSION").exists(_.startsWith("BINTABLE")))
      .getOrElse(throw new IllegalArgumentException(s"no BINTABLE in $path"))
    val t = Fits.readBinTable(bytes, tableHdu)

    val fields = t.columns.map { c =>
      c.typeCode match {
        case 'A' => StructField(c.name, StringType)
        case 'E' | 'D' =>
          if (c.repeat == 1) StructField(c.name, DoubleType)
          else StructField(c.name, ArrayType(DoubleType))
        case 'I' | 'J' | 'B' | 'L' =>
          if (c.repeat == 1) StructField(c.name, IntegerType)
          else StructField(c.name, ArrayType(IntegerType))
        case 'K' =>
          if (c.repeat == 1) StructField(c.name, LongType)
          else StructField(c.name, ArrayType(LongType))
        case code => throw new IllegalArgumentException(s"TFORM $code")
      }
    }
    val schema = StructType(fields)
    val rows = (0 until t.nRows).map { r =>
      Row.fromSeq(t.columns.map { c =>
        c.typeCode match {
          case 'A' =>
            val base = tableHdu.dataOffset + r * t.rowBytes + c.byteOffset
            new String(bytes, base, c.repeat, java.nio.charset.StandardCharsets.US_ASCII).trim
          case 'E' | 'D' =>
            val v = Fits.readDoubles(bytes, t, c, r)
            if (c.repeat == 1) v(0) else v.toSeq
          case 'I' | 'J' | 'B' | 'L' =>
            val v = Fits.readDoubles(bytes, t, c, r).map(_.toInt)
            if (c.repeat == 1) v(0) else v.toSeq
          case 'K' =>
            val v = Fits.readDoubles(bytes, t, c, r).map(_.toLong)
            if (c.repeat == 1) v(0) else v.toSeq
        }
      })
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }

  /** J4: positional 1:1 column concat (`pd.concat(axis=1)`) — zip two
    * equal-length tables by row order. Row order is pinned with a
    * window-free zipWithIndex to keep it deterministic. */
  def concatColumns(a: DataFrame, b: DataFrame): DataFrame = {
    val spark = a.sparkSession
    def withIdx(df: DataFrame): DataFrame = {
      val rdd = df.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }
      spark.createDataFrame(rdd, df.schema.add("_row_idx", LongType))
    }
    val bCols = b.columns.toSet
    // disambiguate duplicate column names like pandas suffixes
    val aRenamed = a.columns.foldLeft(a) { (df, c) =>
      if (bCols.contains(c)) df.withColumnRenamed(c, c + "_info") else df
    }
    withIdx(aRenamed).join(withIdx(b), "_row_idx").drop("_row_idx")
  }

  /** gal_info + gal_fibsfr → SFR table (`sfr.py:17-31`). */
  def sfrTable(spark: SparkSession, galInfoPath: String, galSfrPath: String): DataFrame = {
    val info = IgnoreInfoCols.foldLeft(readFitsTable(spark, galInfoPath))(_.drop(_))
    val fib = readFitsTable(spark, galSfrPath)
    concatColumns(info, fib)
  }

  /** J5: spectra metadata ⟕ SFR on (PLATEID, MJD, FIBERID)
    * (`sfr.py:42-48`). */
  def mergeWithSpectraMetadata(spectraMeta: DataFrame, sfr: DataFrame): DataFrame =
    spectraMeta.join(sfr, Seq("PLATEID", "MJD", "FIBERID"), "left")

  /** Spectra header cache → one wide metadata row per spectrum (the
    * engine's `fits_spectra_metadata` parsed form, keyed for J5).
    * Columnar projection so the flux payloads are pruned at the scan. */
  def spectraMetadata(spectra: Dataset[SpectrumObs]): DataFrame = {
    import spectra.sparkSession.implicits._
    spectra.toDF().where($"zoom" === 0)
      .select($"plateid".as("PLATEID"), $"mjd".as("MJD"), $"fiberid".as("FIBERID"),
        $"fits_name", $"ra", $"dec", $"time")
  }
}
