package graft

import java.util.Base64

import graft.expressions.StrCodeImpl
import org.apache.spark.unsafe.types.UTF8String

/** Differential-fuzz emitter for [[graft.expressions.StrCode]] (dev tool,
  * not part of the driver contract): seeded random strings over a hostile
  * pool — the full Python-whitespace family (incl. the four chars Java's
  * `isWhitespace` excludes), Norwegian letters both cases, 1:N uppercase
  * expansions (ß→SS, ﬁ→FI), case-mapping oddballs (µ, ς, ǅ), astral
  * pairs — printed as `base64(input)<TAB>base64(output)` lines.
  * `tools/strcode_diff.py` executes the REFERENCE'S OWN `str_to_code`
  * (extracted verbatim at runtime from `/root/reference/src/transform.py`
  * — run as a test oracle, never shipped) on every input and compares:
  * the T6 emulation is checked against the actual reference function, not
  * our reading of it.
  *
  * `Test/runMain graft.StrCodeFuzz [n] [seed] [outFile]`
  */
object StrCodeFuzz {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(100000)
    val seed = args.drop(1).headOption.map(_.toLong).getOrElse(12L)
    val rnd = new scala.util.Random(seed)
    val enc = Base64.getEncoder
    val sink: java.io.OutputStream = args.drop(2).headOption
      .map(p => new java.io.FileOutputStream(p))
      .getOrElse(System.out)
    val out = new java.io.PrintStream(new java.io.BufferedOutputStream(sink, 1 << 20), false, "UTF-8")
    var i = 0
    while (i < n) {
      val input = gen(rnd)
      val r = StrCodeImpl.convert(UTF8String.fromString(input)).toString
      out.println(enc.encodeToString(input.getBytes("UTF-8")) + "\t" +
        enc.encodeToString(r.getBytes("UTF-8")))
      i += 1
    }
    out.flush()
  }

  private val pool: IndexedSeq[String] = {
    val letters = ('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')
    val no = "æøåÆØÅ"
    // Python str.split() whitespace incl. the four Java excludes (NEL,
    // NBSP, figure space, narrow NBSP) and the LS/PS pair.
    val ws = " \t\n\r\f   　    "
    val expansions = "ßﬁﬂŉǅǈǋǲ" // 1:N or titlecase uppercase mappings
    val odd = "µςİıſKÅ€→_-.,:;!?#@%&/()[]{}'\"`~еА" // incl. Kelvin K, Angstrom Å, Cyrillic lookalikes
    (letters.map(_.toString) ++ no.map(_.toString) ++ ws.map(_.toString) ++
      expansions.map(_.toString) ++ odd.map(_.toString) ++
      Seq("😀", "𝐀")) // astral: emoji, math bold A
  }

  private def gen(r: scala.util.Random): String = {
    val len = r.nextInt(24)
    val sb = new StringBuilder
    var i = 0
    while (i < len) { sb.append(pool(r.nextInt(pool.size))); i += 1 }
    sb.toString
  }
}
