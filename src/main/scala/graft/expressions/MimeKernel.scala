package graft.expressions

import graft.cel.Eval
import graft.cel.Eval.{V, VBool, VErr, VInt, VList, VMap, VString}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, ArrayBasedMapData}
import org.apache.spark.unsafe.types.UTF8String

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{GZIPInputStream, ZipInputStream}
import scala.collection.mutable.ArrayBuffer

/** Format/MIME decode kernel for the reference's mime/file transforms
  * (/root/reference/lib/mime.go, registered at mito.go:276-284):
  * gzip, zip, CSV (header/no-header), NDJSON, rot13.
  *
  * These are *functions on a bytes column* (the reference applies them to
  * whole in-memory payloads, mime.go:90-132). At scale the same formats
  * arriving as FILES go through DataFrameReader (csv/json/binaryFile),
  * which streams and splits; these kernels cover the in-row case
  * (e.g. zip member or HTTP response body inside an event).
  */
object MimeKernel {

  /** application/gzip — mime.go transform table. */
  def gunzip(data: Array[Byte]): Array[Byte] = {
    val in = new GZIPInputStream(new ByteArrayInputStream(data))
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    out.toByteArray
  }

  /** application/zip -> list of member structs
    * (Name, IsDir, Size, Modified micros, Data) — mime.go:368-429.
    * Full in-memory expansion, same caveat as the reference
    * (mime.go:367). */
  def zipExpand(data: Array[Byte]): ArrayData = {
    val zin = new ZipInputStream(new ByteArrayInputStream(data))
    val rows = ArrayBuffer.empty[InternalRow]
    var e = zin.getNextEntry
    while (e != null) {
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = zin.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = zin.read(buf) }
      rows += InternalRow(
        UTF8String.fromString(e.getName),
        e.isDirectory,
        out.size().toLong,
        e.getTime * 1000L, // micros
        out.toByteArray)
      e = zin.getNextEntry
    }
    new GenericArrayData(rows.toArray[Any])
  }

  /** application/zip for the CEL tier: Go's full archive map
    * ({"Comment", "File": [FileHeader...]}) as a CEL value, matching
    * archive/zip's reader fields (CRC32, central-directory Extra,
    * Modified with the timezone offset reconstructed from the extended
    * timestamp vs the MS-DOS wall time, rounded to 15 minutes). Uses
    * ZipFile over a temp file because only the central directory carries
    * the Extra bytes the reference exposes. */
  def zipMap(data: Array[Byte]): V = {
    def u16(i: Int): Int = (data(i) & 0xff) | ((data(i + 1) & 0xff) << 8)
    def u32(i: Int): Long = {
      var v = 0L
      var k = 0
      while (k < 4) { v |= (data(i + k) & 0xffL) << (8 * k); k += 1 }
      v
    }
    // End-of-central-directory record: scan back for PK\005\006
    var eocd = data.length - 22
    while (eocd >= 0 && u32(eocd) != 0x06054b50L) eocd -= 1
    require(eocd >= 0, "not a zip archive (no EOCD)")
    val nEntries = u16(eocd + 10)
    val cdOff = u32(eocd + 16).toInt
    val archiveComment = {
      val len = u16(eocd + 20)
      new String(data, eocd + 22, math.min(len, data.length - eocd - 22),
        StandardCharsets.UTF_8)
    }
    // file CONTENTS via the JDK decoder (handles deflate); keyed by name
    val contents = scala.collection.mutable.Map.empty[String, Array[Byte]]
    val zin = new ZipInputStream(new ByteArrayInputStream(data))
    var ze = zin.getNextEntry
    while (ze != null) {
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = zin.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = zin.read(buf) }
      contents(ze.getName) = out.toByteArray
      ze = zin.getNextEntry
    }
    // central-directory walk: the authoritative flags/dostime/extra Go
    // exposes (java.util.zip substitutes the UT time into the DOS
    // fields, losing the wall clock the offset is derived from)
    val files = Vector.newBuilder[V]
    var p = cdOff
    var e = 0
    while (e < nEntries && p + 46 <= data.length && u32(p) == 0x02014b50L) {
      val flags = u16(p + 8)
      val dosTime = u16(p + 12)
      val dosDate = u16(p + 14)
      val crc = u32(p + 16)
      val usize = u32(p + 24)
      val nameLen = u16(p + 28)
      val extraLen = u16(p + 30)
      val commentLen = u16(p + 32)
      val name = new String(data, p + 46, nameLen, StandardCharsets.UTF_8)
      val extra = java.util.Arrays.copyOfRange(data, p + 46 + nameLen,
        p + 46 + nameLen + extraLen)
      val comment = new String(data, p + 46 + nameLen + extraLen, commentLen,
        StandardCharsets.UTF_8)
      val isDir = name.endsWith("/")
      // MS-DOS wall clock fields
      val wall = java.time.LocalDateTime.of(
        ((dosDate >> 9) & 0x7f) + 1980, math.max(1, (dosDate >> 5) & 0xf),
        math.max(1, dosDate & 0x1f), (dosTime >> 11) & 0x1f,
        (dosTime >> 5) & 0x3f, (dosTime & 0x1f) * 2)
      // UT (0x5455) extended timestamp in the central extra
      var utMtime: Option[Long] = None
      var i = 0
      while (i + 4 <= extra.length) {
        val id = (extra(i) & 0xff) | ((extra(i + 1) & 0xff) << 8)
        val sz = (extra(i + 2) & 0xff) | ((extra(i + 3) & 0xff) << 8)
        if (id == 0x5455 && sz >= 5 && i + 4 + sz <= extra.length &&
          (extra(i + 4) & 1) == 1) {
          var t = 0L
          var k = 0
          while (k < 4) { t |= (extra(i + 5 + k) & 0xffL) << (8 * k); k += 1 }
          utMtime = Some(t)
        }
        i += 4 + sz
      }
      val modified = utMtime match {
        case Some(utc) =>
          // Go derives the zone from wall - utc, rounded to 15 minutes
          val diff = wall.toEpochSecond(java.time.ZoneOffset.UTC) - utc
          val rounded = math.round(diff / 900.0) * 900
          java.time.Instant.ofEpochSecond(utc)
            .atOffset(java.time.ZoneOffset.ofTotalSeconds(rounded.toInt))
        case None => wall.atOffset(java.time.ZoneOffset.UTC)
      }
      val fmt =
        if (modified.getOffset == java.time.ZoneOffset.UTC) modified.toInstant.toString
        else modified.format(java.time.format.DateTimeFormatter.ISO_OFFSET_DATE_TIME)
      files += VMap.of(
        "CRC32" -> VInt(crc),
        "Comment" -> VString(comment),
        "Data" -> VString(java.util.Base64.getEncoder.encodeToString(
          contents.getOrElse(name, Array.empty[Byte]))),
        "Extra" -> VString(java.util.Base64.getEncoder.encodeToString(extra)),
        "IsDir" -> VBool(isDir),
        "Modified" -> VString(fmt),
        "Name" -> VString(name),
        // Go: NonUTF8 set only when bit 11 is clear and the strings need it
        "NonUTF8" -> VBool((flags & 0x800) == 0 && (name + comment).exists(_ >= 128)),
        "Size" -> VInt(usize))
      p += 46 + nameLen + extraLen + commentLen
      e += 1
    }
    VMap.of("Comment" -> VString(archiveComment), "File" -> VList(files.result()))
  }

  /** Minimal RFC-4180 CSV split (quoted fields, embedded quotes). */
  private[graft] def csvRows(text: String): Seq[Array[String]] = {
    val rows = ArrayBuffer.empty[Array[String]]
    val row = ArrayBuffer.empty[String]
    val f = new StringBuilder
    var inQ = false
    var i = 0
    def endField(): Unit = { row += f.toString; f.clear() }
    def endRow(): Unit = {
      if (row.nonEmpty || f.nonEmpty) { endField(); rows += row.toArray; row.clear() }
    }
    while (i < text.length) {
      val c = text.charAt(i)
      if (inQ) {
        if (c == '"') {
          if (i + 1 < text.length && text.charAt(i + 1) == '"') { f.append('"'); i += 1 }
          else inQ = false
        } else f.append(c)
      } else c match {
        case '"' => inQ = true
        case ',' => endField()
        case '\n' => endRow()
        case '\r' =>
        case other => f.append(other)
      }
      i += 1
    }
    endRow()
    rows.toSeq
  }

  /** text/csv; header=present -> list of maps (all values strings) —
    * mime.go:172-195. */
  def csvHeader(data: Array[Byte]): ArrayData = {
    val rows = csvRows(new String(data, StandardCharsets.UTF_8))
    if (rows.isEmpty) return new GenericArrayData(Array.empty[Any])
    val h = rows.head.map(UTF8String.fromString)
    val out = rows.tail.map { rec =>
      ArrayBasedMapData(h.asInstanceOf[Array[Any]],
        rec.map(UTF8String.fromString(_): Any).padTo(h.length, null))
    }
    new GenericArrayData(out.toArray[Any])
  }

  /** text/csv; header=absent -> list of lists — mime.go:224-230. */
  def csvNoHeader(data: Array[Byte]): ArrayData =
    new GenericArrayData(csvRows(new String(data, StandardCharsets.UTF_8))
      .map(rec => new GenericArrayData(rec.map(UTF8String.fromString(_): Any)): Any).toArray)

  /** application/x-ndjson -> array of JSON documents, one per
    * non-blank line ([[ndjsonDocs]] rendered). */
  def ndjson(data: Array[Byte]): ArrayData =
    new GenericArrayData(
      ndjsonDocs(data).map(v => UTF8String.fromBytes(Eval.renderUtf8(v)): Any).toArray)

  /** One document per non-blank line; a malformed line is an in-band
    * error carrying the line — mime.go:292-314. The CEL mime transform
    * returns these values. */
  def ndjsonDocs(data: Array[Byte]): Vector[V] = {
    val docs = Vector.newBuilder[V]
    var start = 0
    while (start <= data.length) {
      var end = start
      while (end < data.length && data(end) != '\n') end += 1
      // blank: only bytes a String trim drops (none of them is part of
      // a multi-byte character)
      if ((start until end).exists(i => (data(i) & 0xFF) > ' ')) {
        docs += (Eval.parseV(data, start, end - start) match {
          case VErr(m) =>
            val line = Eval.utf8Text(data, start, end - start)
            // Go's encoding/json message for a truncated document
            if (m.contains("end-of-input")) VErr(s"unexpected end of JSON input: $line")
            else VErr(s"$m: $line")
          case ok => ok
        })
      }
      start = end + 1
    }
    docs.result()
  }

  /** text/rot13 (reference test transform, mito.go:358-365). */
  def rot13(data: Array[Byte]): Array[Byte] = data.map { b =>
    val c = b.toChar
    if (c >= 'a' && c <= 'z') ('a' + (c - 'a' + 13) % 26).toByte
    else if (c >= 'A' && c <= 'Z') ('A' + (c - 'A' + 13) % 26).toByte
    else b
  }
}
