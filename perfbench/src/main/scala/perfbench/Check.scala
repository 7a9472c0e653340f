package perfbench

import java.io.{BufferedInputStream, File, FileInputStream, InputStream}

import com.github.luben.zstd.ZstdInputStream

/** An independent reader of the proto-zst data files: zstd-jni plus a
  * hand-rolled parse of the wire format (a varint length, then
  * `Row{1: key, 2: Column{1: name, 2: value, 3: fixed64 write_time}}`).
  * It shares no code with the engine's decoder, so a sink bug cannot be
  * hidden by the same bug on the read side.
  */
object Check {
  final class Corrupt(msg: String) extends Exception(msg)

  def dataFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".proto.zst") &&
        !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .sortBy(_.getName)

  /** Rows, live cells and the cell digest of every data file in `dir`.
    * Throws [[Corrupt]] on a truncated frame or malformed message.
    */
  def decodeDir(dir: String): Totals = {
    import scala.jdk.CollectionConverters._
    dataFiles(dir).asJava.parallelStream().map[Totals](decodeFile(_))
      .reduce(Totals.Zero, _ + _)
  }

  /** Uncompressed (framed wire) bytes of every data file in `dir`. */
  def wireBytes(dir: String): Long =
    dataFiles(dir).map { f =>
      val in = new ZstdInputStream(new BufferedInputStream(new FileInputStream(f), 1 << 16))
      try in.transferTo(java.io.OutputStream.nullOutputStream()) finally in.close()
    }.sum

  def decodeFile(f: File): Totals = {
    val in = new ZstdInputStream(new BufferedInputStream(new FileInputStream(f), 1 << 16))
    try decodeStream(in, f.getName)
    catch { case e: java.io.IOException => throw new Corrupt(s"${f.getName}: ${e.getMessage}") }
    finally in.close()
  }

  private def decodeStream(in: InputStream, name: String): Totals = {
    var rows = 0L; var cells = 0L; var digest = 0L
    var buf = new Array[Byte](1 << 16)
    var done = false
    while (!done) {
      val len = readVarint(in, eofOk = true)
      if (len < 0) done = true
      else {
        if (len > Int.MaxValue / 2) throw new Corrupt(s"$name: frame length $len")
        if (buf.length < len) buf = new Array[Byte](len.toInt * 2)
        if (in.readNBytes(buf, 0, len.toInt) != len)
          throw new Corrupt(s"$name: truncated row after $rows rows")
        val t = parseRow(buf, len.toInt, name)
        rows += 1; cells += t.cells; digest += t.digest
      }
    }
    Totals(rows, cells, digest)
  }

  private def readVarint(in: InputStream, eofOk: Boolean): Long = {
    var shift = 0; var v = 0L
    while (true) {
      val b = in.read()
      if (b < 0) {
        if (eofOk && shift == 0) return -1
        throw new Corrupt("truncated varint")
      }
      v |= (b & 0x7fL) << shift
      if ((b & 0x80) == 0) return v
      shift += 7
      if (shift > 63) throw new Corrupt("varint overflow")
    }
    -1
  }

  /** Parses one Row message in buf[0, len): (1 row, its cells, digest). */
  def parseRow(buf: Array[Byte], len: Int, name: String): Totals = {
    var pos = 0
    def varint(end: Int): Long = {
      var shift = 0; var v = 0L
      while (true) {
        if (pos >= end) throw new Corrupt(s"$name: varint past end")
        val b = buf(pos); pos += 1
        v |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return v
        shift += 7
        if (shift > 63) throw new Corrupt(s"$name: varint overflow")
      }
      0L
    }
    def bounded(l: Long, end: Int): Int =
      if (l < 0 || pos + l > end) throw new Corrupt(s"$name: field past end") else l.toInt
    var kOff = 0; var kLen = -1
    val cols = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    while (pos < len) {
      val tag = varint(len)
      tag match {
        case 0x0a => kLen = bounded(varint(len), len); kOff = pos; pos += kLen
        case 0x12 => val l = bounded(varint(len), len); cols += ((pos, l)); pos += l
        case _ => throw new Corrupt(s"$name: unexpected row tag $tag")
      }
    }
    if (kLen < 0) throw new Corrupt(s"$name: row without key")
    var digest = 0L
    cols.foreach { case (off, l) =>
      val end = off + l
      pos = off
      var nOff = 0; var nLen = 0; var vOff = 0; var vLen = 0; var wt = 0L
      while (pos < end) {
        varint(end) match {
          case 0x0a => nLen = bounded(varint(end), end); nOff = pos; pos += nLen
          case 0x12 => vLen = bounded(varint(end), end); vOff = pos; pos += vLen
          case 0x19 =>
            bounded(8, end)
            wt = java.nio.ByteBuffer.wrap(buf, pos, 8)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
            pos += 8
          case t => throw new Corrupt(s"$name: unexpected column tag $t")
        }
      }
      digest += Digest.cell(buf, kOff, kLen, buf, nOff, nLen, buf, vOff, vLen, wt)
    }
    Totals(1, cols.length, digest)
  }

  /** Compares decoded totals with expected ones; the failure message,
    * or None when they agree.
    */
  def compare(what: String, got: Totals, want: Totals): Option[String] =
    if (got == want) None
    else Some(s"$what: got rows=${got.rows} cells=${got.cells} digest=${got.digest}, " +
      s"want rows=${want.rows} cells=${want.cells} digest=${want.digest}")
}
