package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Output checks. Each takes the expected and the observed values and
  * returns the mismatches it found (empty = pass), so the smoke test can
  * feed every check a tampered value and see it fire. */
object Checks {

  /** Exact per-(table, zoom) row counts. */
  def rowCounts(expected: Map[(String, Int), Long], observed: Map[(String, Int), Long]): Seq[String] =
    (expected.keySet ++ observed.keySet).toSeq.sorted.flatMap { k =>
      val (e, o) = (expected.getOrElse(k, 0L), observed.getOrElse(k, 0L))
      if (e == o) None else Some(s"rows ${k._1}/zoom=${k._2}: expected $e, got $o")
    }

  /** The benchmark's phase-by-phase copy of `BuildCube.build` against the
    * whole call on the same inputs: the same summary counts (spectra,
    * images, links, ml, viz), rows per (table, zoom) and partition
    * directories. */
  def sameBuild(counts: Seq[Long], phasedCounts: Seq[Long],
      rows: Map[(String, Int), Long], phasedRows: Map[(String, Int), Long],
      dirs: Set[String], phasedDirs: Set[String]): Seq[String] = {
    val summary = if (counts == phasedCounts) Nil
      else Seq(s"phased build counts $phasedCounts, BuildCube.build $counts")
    val layout = if (dirs == phasedDirs) Nil
      else Seq(s"phased build partitions differ from BuildCube.build's: ${(dirs diff phasedDirs) ++ (phasedDirs diff dirs)}")
    summary ++ rowCounts(rows, phasedRows).map("phased build " + _) ++ layout
  }

  /** At most `cap` links per (spectrum, zoom). */
  def linkCap(maxLinks: Long, cap: Int = graft.pipeline.Link.MaxCutoutRefs): Seq[String] =
    if (maxLinks <= cap) Nil else Seq(s"links per (spectrum, zoom): $maxLinks > $cap")

  /** Every ML-cube row carries the five bands, each once. */
  def bandComplete(bandsPerRow: Seq[Seq[String]]): Seq[String] =
    bandsPerRow.zipWithIndex.collect {
      case (b, i) if b.sorted != CubeFixtures.Bands.sorted => s"ml_cube row $i bands ${b.mkString(",")}"
    }.take(3)

  /** Inverse-variance mean of repeat spectra, computed in plain Scala with
    * the reference's rules: a zero, NaN or infinite sigma adds no weight;
    * a NaN flux adds weight but no flux; zero total weight gives NaN. */
  def ivwMean(flux: Seq[Array[Float]], sigma: Seq[Array[Float]]): Array[Double] = {
    val n = flux.map(_.length).max
    val sw = new Array[Double](n)
    val swf = new Array[Double](n)
    flux.zip(sigma).foreach { case (f, s) =>
      var i = 0
      while (i < math.min(f.length, s.length)) {
        val si = s(i).toDouble
        if (si != 0.0 && !si.isNaN && !si.isInfinite) {
          val w = 1.0 / (si * si)
          sw(i) += w
          if (!f(i).isNaN) swf(i) += f(i) * w
        }
        i += 1
      }
    }
    Array.tabulate(n)(i => swf(i) / sw(i))
  }

  /** Stored f32 stack against the f64 recomputation, to f32 tolerance. */
  def ivw(target: Long, expected: Array[Double], stored: Array[Float]): Seq[String] = {
    if (expected.length != stored.length)
      return Seq(s"ivw target $target: length ${stored.length} != ${expected.length}")
    val bad = expected.indices.filterNot { i =>
      val (e, s) = (expected(i), stored(i).toDouble)
      (e.isNaN && s.isNaN) || math.abs(e - s) <= 2e-7 * math.max(1.0, math.abs(e))
    }
    if (bad.isEmpty) Nil
    else Seq(s"ivw target $target: ${bad.size} samples off, first at ${bad.head}: " +
      s"expected ${expected(bad.head)}, stored ${stored(bad.head)}")
  }

  /** Row count plus a hash of the sorted rows, with columns in name order
    * and doubles rounded to 9 significant digits (the canonical form
    * `scripts/check_oracle.py` compares). */
  def fingerprint(columns: Seq[String], rows: Seq[Row]): (Long, String) = {
    val order = columns.map(_.toLowerCase).zipWithIndex.sortBy(_._1).map(_._2)
    val keys = rows.map(r => order.map(i => canon(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    keys.foreach { k => md.update(k.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte) }
    (rows.size.toLong, md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString)
  }

  private def canon(v: Any): String = v match {
    case null => "\u0000NULL"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }
      .sorted.mkString("<", ",", ">")
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString
    case o => o.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros().toString

  def fingerprintMatch(query: String, expected: Option[(Long, String)], observed: (Long, String)): Seq[String] =
    expected match {
      case None => Seq(s"$query: no recorded fingerprint")
      case Some(e) if e != observed => Seq(s"$query: expected ${e._1} rows/${e._2}, got ${observed._1} rows/${observed._2}")
      case _ => Nil
    }
}
