package graft.kernel

import java.nio.{ByteBuffer, ByteOrder}
import graft.schema.Vocab

/** Deterministic media-payload codec. A payload encodes exactly what the
  * reference's neural stage hands to post-processing (FIXTURES.md §1):
  *  - STD: a quantized probability map (/root/reference/cnstd/model/core.py:110-121)
  *  - MFD / layout: pre-NMS candidate records `(class, cxcywh, conf)`
  *    (/root/reference/cnstd/yolov7/general.py:597 tensor rows)
  *
  * Layout (big-endian):
  *   magic 'G' | version 1 | stage byte | W:int16 | H:int16 |
  *   stage 0: W*H uint8 cells (prob = cell / 255f)
  *   stage 1/2: n:int16 then n * (cls:int8, cx:f32, cy:f32, w:f32, h:f32, conf:f32)
  */
object Payload {
  final val Magic: Byte = 'G'
  final val Version: Byte = 1

  final case class Candidate(cls: Int, cx: Float, cy: Float, w: Float, h: Float, conf: Float)

  sealed trait Decoded { def stage: Int; def width: Int; def height: Int }

  /** Zero-copy view over the payload's quantized cells (prob = cell/255f). */
  final case class ProbMap(width: Int, height: Int, cells: Array[Byte], off: Int) extends Decoded {
    def stage: Int = Vocab.StageStd
    def prob(i: Int): Float = (cells(off + i) & 0xff) / 255.0f
  }
  final case class Candidates(stage: Int, width: Int, height: Int, cands: Seq[Candidate]) extends Decoded

  def encodeProbMap(w: Int, h: Int, cells: Array[Byte]): Array[Byte] = {
    require(cells.length == w * h, s"cells ${cells.length} != ${w * h}")
    val bb = ByteBuffer.allocate(7 + w * h).order(ByteOrder.BIG_ENDIAN)
    bb.put(Magic).put(Version).put(Vocab.StageStd.toByte)
    bb.putShort(w.toShort).putShort(h.toShort)
    bb.put(cells)
    bb.array()
  }

  def encodeCandidates(stage: Int, w: Int, h: Int, cands: Seq[Candidate]): Array[Byte] = {
    val bb = ByteBuffer.allocate(9 + cands.length * 21).order(ByteOrder.BIG_ENDIAN)
    bb.put(Magic).put(Version).put(stage.toByte)
    bb.putShort(w.toShort).putShort(h.toShort)
    bb.putShort(cands.length.toShort)
    cands.foreach { c =>
      bb.put(c.cls.toByte).putFloat(c.cx).putFloat(c.cy).putFloat(c.w).putFloat(c.h).putFloat(c.conf)
    }
    bb.array()
  }

  def decode(bytes: Array[Byte]): Decoded = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    val magic = bb.get()
    val version = bb.get()
    require(magic == Magic && version == Version, s"bad payload header: $magic/$version")
    val stage = bb.get().toInt
    val w = bb.getShort().toInt
    val h = bb.getShort().toInt
    stage match {
      case Vocab.StageStd =>
        // a hostile header must fail here: the kernel sizes its bitset from w * h
        Image.checkDims("std payload", w, h, 1)
        require(bytes.length == 7 + w * h, s"std payload: ${bytes.length} bytes for $w x $h cells")
        ProbMap(w, h, bytes, 7)
      case s =>
        val n = bb.getShort().toInt
        val cands = (0 until n).map { _ =>
          Candidate(bb.get().toInt, bb.getFloat(), bb.getFloat(), bb.getFloat(), bb.getFloat(), bb.getFloat())
        }
        Candidates(s, w, h, cands)
    }
  }
}
