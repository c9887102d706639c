package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

/** Minimal FITS parser (pure Scala/JVM, no astropy/fitsio) covering what
  * the SDSS files use — S3-S6 in SURVEY §2.1 (reference parses the same
  * subset via fitsio/astropy: `hisscube/utils/fitstools.py:23-70`,
  * `hisscube/utils/photometry.py:193-246`):
  *
  *  - 2880-byte blocks of 80-char header cards, `KEY = value / comment`
  *  - primary + IMAGE extensions with BITPIX ∈ {8,16,32,64,-32,-64}
  *  - BINTABLE extensions with TFORM codes L,B,I,J,K,E,D,A (incl. array
  *    repeats), no heap (P/Q) support
  *  - transparent .bz2 payloads (commons-compress ships with Spark)
  *
  * All numeric data is big-endian per the FITS standard.
  */
object Fits {

  val BlockSize = 2880
  val CardSize = 80

  final case class Header(cards: Vector[(String, String)]) {
    private val map: Map[String, String] = cards.toMap
    def get(key: String): Option[String] = map.get(key)
    def apply(key: String): String =
      map.getOrElse(key, throw new NoSuchElementException(s"FITS key $key"))
    def int(key: String): Int = apply(key).toInt
    def long(key: String): Long = apply(key).toLong
    def double(key: String): Double = apply(key).toDouble
    def intOpt(key: String): Option[Int] = get(key).map(_.toInt)
    def doubleOpt(key: String): Option[Double] = get(key).flatMap(v => v.toDoubleOption)
    def str(key: String): String = apply(key)
    def contains(key: String): Boolean = map.contains(key)
  }

  final case class Hdu(header: Header, dataOffset: Int, dataLength: Int)

  /** Parse one header card → (key, canonical value string), or None for
    * cards the engine drops (COMMENT/HISTORY/blank — like the reference's
    * `fitstools.py` parser). */
  private def parseCard(card: String): Option[(String, String)] = {
    val key = card.substring(0, math.min(8, card.length)).trim
    if (key.isEmpty || key == "COMMENT" || key == "HISTORY" || key == "END" || key == "CONTINUE") None
    else if (card.length < 10 || card.charAt(8) != '=') None
    else {
      val raw = card.substring(10)
      val value =
        if (raw.dropWhile(_ == ' ').startsWith("'")) {
          // quoted string; '' escapes a quote
          val s = raw.dropWhile(_ == ' ').drop(1)
          val sb = new StringBuilder
          var i = 0
          var done = false
          while (i < s.length && !done) {
            val c = s.charAt(i)
            if (c == '\'') {
              if (i + 1 < s.length && s.charAt(i + 1) == '\'') { sb.append('\''); i += 2 }
              else done = true
            } else { sb.append(c); i += 1 }
          }
          sb.result().reverse.dropWhile(_ == ' ').reverse // trailing pad spaces
        } else {
          val noComment = {
            val idx = raw.indexOf('/')
            if (idx >= 0) raw.substring(0, idx) else raw
          }
          noComment.trim
        }
      Some(key -> value)
    }
  }

  /** Decompress if the payload is bz2 (reference reads .fits.bz2 frames). */
  def maybeDecompress(bytes: Array[Byte], path: String): Array[Byte] =
    if (path.endsWith(".bz2") ||
      (bytes.length > 3 && bytes(0) == 'B' && bytes(1) == 'Z' && bytes(2) == 'h')) {
      val in = new org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream(
        new java.io.ByteArrayInputStream(bytes), true)
      try in.readAllBytes() finally in.close()
    } else bytes

  /** Scan all HDUs (header + data extent) of an in-memory FITS file. */
  def readHdus(bytes: Array[Byte]): Vector[Hdu] = {
    val out = Vector.newBuilder[Hdu]
    var off = 0
    while (off + BlockSize <= bytes.length) {
      // read header blocks until END card
      val cards = Vector.newBuilder[(String, String)]
      var headerEnd = -1
      var block = off
      while (headerEnd < 0 && block + BlockSize <= bytes.length) {
        var c = 0
        while (c < BlockSize && headerEnd < 0) {
          val card = new String(bytes, block + c, CardSize, StandardCharsets.US_ASCII)
          if (card.startsWith("END")) headerEnd = block + BlockSize
          else parseCard(card).foreach(cards += _)
          c += CardSize
        }
        block += BlockSize
      }
      if (headerEnd < 0) return out.result() // truncated trailer
      val header = Header(cards.result())
      val bitpix = header.intOpt("BITPIX").getOrElse(8)
      val naxis = header.intOpt("NAXIS").getOrElse(0)
      var nElems = if (naxis == 0) 0L else 1L
      var i = 1
      while (i <= naxis) {
        nElems *= header.long(s"NAXIS$i")
        i += 1
      }
      val pcount = header.intOpt("PCOUNT").getOrElse(0)
      val gcount = header.intOpt("GCOUNT").getOrElse(1)
      val dataBytes = (math.abs(bitpix) / 8).toLong * gcount * (pcount + nElems)
      val padded = ((dataBytes + BlockSize - 1) / BlockSize) * BlockSize
      out += Hdu(header, headerEnd, dataBytes.toInt)
      off = headerEnd + padded.toInt
    }
    out.result()
  }

  /** Read an IMAGE HDU's data as a row-major 2-D float array (BITPIX -32
    * fast path; BSCALE/BZERO applied when present). 1-D data → 1×N. */
  def readImage(bytes: Array[Byte], hdu: Hdu): Array[Array[Float]] = {
    val h = hdu.header
    val bitpix = h.int("BITPIX")
    val naxis = h.int("NAXIS")
    val w = if (naxis >= 1) h.int("NAXIS1") else 0
    val ht = if (naxis >= 2) h.int("NAXIS2") else 1
    val bscale = h.doubleOpt("BSCALE").getOrElse(1.0)
    val bzero = h.doubleOpt("BZERO").getOrElse(0.0)
    val buf = ByteBuffer.wrap(bytes, hdu.dataOffset, hdu.dataLength).order(ByteOrder.BIG_ENDIAN)
    val out = Array.ofDim[Float](ht, w)
    var r = 0
    while (r < ht) {
      val row = out(r)
      var c = 0
      while (c < w) {
        val v: Double = bitpix match {
          case -32 => buf.getFloat().toDouble
          case -64 => buf.getDouble()
          case 8 => (buf.get() & 0xff).toDouble
          case 16 => buf.getShort().toDouble
          case 32 => buf.getInt().toDouble
          case 64 => buf.getLong().toDouble
          case b => throw new IllegalArgumentException(s"BITPIX $b")
        }
        row(c) = (v * bscale + bzero).toFloat
        c += 1
      }
      r += 1
    }
    out
  }

  /** One column of a BINTABLE. */
  final case class BinColumn(name: String, typeCode: Char, repeat: Int, byteOffset: Int) {
    def elemSize: Int = typeCode match {
      case 'L' | 'B' | 'A' | 'X' => 1
      case 'I' => 2
      case 'J' | 'E' => 4
      case 'K' | 'D' => 8
      case c => throw new IllegalArgumentException(s"TFORM '$c' unsupported")
    }
    def byteLen: Int = typeCode match {
      case 'X' => (repeat + 7) / 8
      case _ => repeat * elemSize
    }
  }

  final case class BinTable(hdu: Hdu, columns: Vector[BinColumn], rowBytes: Int, nRows: Int) {
    def column(name: String): BinColumn =
      columns.find(_.name.equalsIgnoreCase(name))
        .getOrElse(throw new NoSuchElementException(s"FITS column $name"))
  }

  private val tformRe = "([0-9]*)([LXBIJKAEDCMPQ])".r

  def readBinTable(bytes: Array[Byte], hdu: Hdu): BinTable = {
    val h = hdu.header
    require(h.get("XTENSION").exists(_.startsWith("BINTABLE")), "not a BINTABLE")
    val nFields = h.int("TFIELDS")
    var offset = 0
    val cols = (1 to nFields).map { i =>
      val name = h.get(s"TTYPE$i").getOrElse(s"col$i").trim
      val tform = h.str(s"TFORM$i").trim
      val m = tformRe.findFirstMatchIn(tform)
        .getOrElse(throw new IllegalArgumentException(s"TFORM$i='$tform'"))
      val repeat = if (m.group(1).isEmpty) 1 else m.group(1).toInt
      val col = BinColumn(name, m.group(2).charAt(0), repeat, offset)
      offset += col.byteLen
      col
    }.toVector
    val rowBytes = h.int("NAXIS1")
    require(offset <= rowBytes, s"column bytes $offset exceed NAXIS1 $rowBytes")
    BinTable(hdu, cols, rowBytes, h.int("NAXIS2"))
  }

  /** Numeric cell (row, column) as doubles (scalar or array repeat). */
  def readDoubles(bytes: Array[Byte], t: BinTable, col: BinColumn, row: Int): Array[Double] = {
    val base = t.hdu.dataOffset + row * t.rowBytes + col.byteOffset
    val buf = ByteBuffer.wrap(bytes, base, col.byteLen).order(ByteOrder.BIG_ENDIAN)
    val out = new Array[Double](col.repeat)
    var i = 0
    while (i < col.repeat) {
      out(i) = col.typeCode match {
        case 'E' => buf.getFloat().toDouble
        case 'D' => buf.getDouble()
        case 'I' => buf.getShort().toDouble
        case 'J' => buf.getInt().toDouble
        case 'K' => buf.getLong().toDouble
        case 'B' => (buf.get() & 0xff).toDouble
        // FITS logical: one ASCII byte 'T'/'F' (0 = undefined) → 1/0
        case 'L' => if (buf.get() == 'T'.toByte) 1.0 else 0.0
        case c => throw new IllegalArgumentException(s"numeric read of '$c'")
      }
      i += 1
    }
    out
  }
}
