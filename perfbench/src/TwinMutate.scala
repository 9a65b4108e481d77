package graft

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8

/** The mutation of the benchmark's near-dup twin board: the mutation of
  * `ScaleSmoke.build(mutate = true)`, with the run seed folded into the
  * per-copy stream. Copy 0 stays unmutated; seed 0 gives ScaleSmoke's own
  * board.
  *
  * A line filter: reads `T <copy> <text as hex UTF-8>` and
  * `V <copy> <float bits as hex>,...` from stdin and writes each mutated
  * value back on one line in the same encoding (without the tag and copy).
  *
  * Usage: graft.TwinMutate SEED COPIES
  */
object TwinMutate {

  /** The copy index ScaleSmoke's mutators see for copy `i` of `k` under
    * `seed`: 0 for copy 0, else distinct and nonzero for every (seed, i). */
  def foldedCopy(seed: Long, k: Int, i: Int): Int =
    if (i == 0) 0 else 1 + java.lang.Math.floorMod(seed * k + i - 1, Int.MaxValue - 1L).toInt

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  private def unhex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  def main(args: Array[String]): Unit = {
    val seed = args(0).toLong
    val k = args(1).toInt
    val in = new BufferedReader(new InputStreamReader(System.in, UTF_8))
    val out = new PrintWriter(new java.io.OutputStreamWriter(System.out, UTF_8))
    var line = in.readLine()
    while (line != null) {
      val Array(tag, i, value) = line.split(" ", 3)
      val copy = foldedCopy(seed, k, i.toInt)
      tag match {
        case "T" =>
          out.println(hex(ScaleSmoke.mutateText(new String(unhex(value), UTF_8), copy).getBytes(UTF_8)))
        case "V" =>
          val v = value.split(',').toSeq.map(b => java.lang.Float.intBitsToFloat(java.lang.Long.parseLong(b, 16).toInt))
          out.println(ScaleSmoke.mutateVec(v, copy)
            .map(x => Integer.toHexString(java.lang.Float.floatToRawIntBits(x))).mkString(","))
      }
      line = in.readLine()
    }
    out.flush()
  }
}
