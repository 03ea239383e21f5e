package graft.functions

import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.classic.ColumnConversions.expression
import org.apache.spark.sql.types._

/** JPEG SOF scan — the one container in the multimodal family whose
  * dimensions do NOT sit at fixed offsets: a JFIF stream is SOI (FFD8)
  * followed by variable-length segments (FF <marker> <2-byte BE length
  * including itself> <payload>), and width/height live in whichever
  * SOF0/1/2 frame header appears before the entropy-coded data. Fixed-
  * offset byte math ([[graft.multimodal.Multimodal]]'s leUint/beUint)
  * cannot express the walk, so this is a kernel expression: one scanner
  * call per row ([[MediaKernels.jpegSofPacked]]) walks the segment list
  * in the binary IN PLACE and packs the frame fields into one long —
  * `(marker << 48) | (precision << 40) | (ncomp << 32) |
  * (height << 16) | width` — so the field extraction above it is plain
  * shift/mask Catalyst columns inside the same codegen span. Null = no
  * parseable SOF (not a JPEG, truncated, or malformed lengths).
  *
  * Scanner contract (hostile-input hardening, every clause spec-pinned
  * in MultimodalDecodeSpec): segment lengths must be >= 2 and in-bounds
  * or the scan aborts; standalone markers (TEM, RST0-7) carry no length
  * and are stepped over; padding FF fill bytes before a marker are
  * legal and skipped; the walk stops at SOS (dims must precede entropy
  * data in a well-formed stream), EOI, or after 256 segments (no
  * crafted stream can loop the scanner). Differential/hierarchical SOFs
  * (C5-C7, C9-CF) are NOT matched — same behavior as the common
  * header-sniffing ingest tools this mirrors. */
case class JpegSofPacked(child: Expression)
    extends UnaryExpression with RowKernel {

  override def inputTypes = Seq(BinaryType)
  override def dataType: DataType = LongType
  override protected def boxedResult: Boolean = true
  override def prettyName: String = "graft_jpeg_sof"

  override protected def nullSafeEval(v: Any): Any =
    MediaKernels.jpegSofPacked(v.asInstanceOf[Array[Byte]])
  override protected def callee(ctx: CodegenContext): String =
    "graft.functions.MediaKernels.jpegSofPacked"

  override protected def withNewChildInternal(
      newChild: Expression): JpegSofPacked = copy(child = newChild)
}

/** The multimodal kernels: [[JpegSofPacked]] runs the scanner here,
  * interpreted and generated alike ([[RowKernel]]). */
object MediaKernels {

  /** Walk the JPEG segment list of `b` and return the first baseline/
    * extended/progressive SOF's fields packed into one non-negative
    * long, or null when none is parseable. */
  def jpegSofPacked(b: Array[Byte]): java.lang.Long = {
    if (b == null || b.length < 4) return null
    // SOI
    if ((b(0) & 0xFF) != 0xFF || (b(1) & 0xFF) != 0xD8) return null
    var pos = 2
    var segs = 0
    while (segs < 256 && pos + 1 < b.length) {
      if ((b(pos) & 0xFF) != 0xFF) return null
      // legal FF fill bytes before the marker byte
      while (pos + 1 < b.length && (b(pos + 1) & 0xFF) == 0xFF) pos += 1
      if (pos + 1 >= b.length) return null
      val marker = b(pos + 1) & 0xFF
      pos += 2
      if (marker == 0xD9 || marker == 0xDA) return null // EOI / SOS first
      if (marker == 0x01 || (marker >= 0xD0 && marker <= 0xD7)) {
        // standalone marker, no length word
      } else {
        if (pos + 1 >= b.length) return null
        val len = ((b(pos) & 0xFF) << 8) | (b(pos + 1) & 0xFF)
        if (len < 2 || pos + len > b.length) return null
        val isSof = marker == 0xC0 || marker == 0xC1 || marker == 0xC2
        if (isSof) {
          if (len < 8) return null
          val precision = b(pos + 2) & 0xFF
          val height = ((b(pos + 3) & 0xFF) << 8) | (b(pos + 4) & 0xFF)
          val width = ((b(pos + 5) & 0xFF) << 8) | (b(pos + 6) & 0xFF)
          val ncomp = b(pos + 7) & 0xFF
          return (marker.toLong << 48) | (precision.toLong << 40) |
            (ncomp.toLong << 32) | (height.toLong << 16) | width.toLong
        }
        pos += len
      }
      segs += 1
    }
    null
  }

  /** `graft_jpeg_sof(content)` ([[JpegSofPacked]]). */
  def jpegSof(content: Column): Column =
    GraftColumn(JpegSofPacked(expression(content)))
}
