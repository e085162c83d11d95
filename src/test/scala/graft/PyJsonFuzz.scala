package graft

import java.util.Base64

import graft.expressions.PyJsonDumpsImpl
import org.apache.spark.unsafe.types.UTF8String

/** Differential-fuzz emitter for [[graft.expressions.PyJsonDumps]] (dev
  * tool, not part of the driver contract): generates seeded random JSON
  * texts — nested containers, unicode + escape soup, float/int grammar
  * edges, NaN/Infinity extensions, malformed variants — and prints one
  * `base64(input)<TAB>base64(output)|NULL` line each.
  * `tools/pyjson_diff.py` replays every input through the REAL CPython
  * `json.loads`/`json.dumps(ensure_ascii=False)` and byte-compares: the
  * emulation claim ("byte-exact Python canonical JSON") is checked against
  * the reference implementation itself, not against our reading of its
  * docs.
  *
  * `Test/runMain graft.PyJsonFuzz [n] [seed] [outFile]` — defaults 20000, seed
  * 12, stdout (pass a file to avoid sbt log interleaving).
  * About a quarter of non-empty objects carry DUPLICATE keys (round 13):
  * CPython resolves keep-LAST at the first occurrence's position, and
  * graft's rewind-and-buffer fallback must byte-match — the one delta the
  * earlier generator deliberately never produced.
  */
object PyJsonFuzz {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(20000)
    val seed = args.drop(1).headOption.map(_.toLong).getOrElse(12L)
    // 4th arg "quote": fuzz [[PyJsonQuote]] (the S6 bare-string path)
    // instead — raw unicode soup in, `json.dumps(s, ensure_ascii=False)`
    // byte parity checked by `tools/pyjson_diff.py --quote`.
    val quoteMode = args.drop(3).headOption.contains("quote")
    val rnd = new scala.util.Random(seed)
    val enc = Base64.getEncoder
    val sink: java.io.OutputStream = args.drop(2).headOption
      .map(p => new java.io.FileOutputStream(p))
      .getOrElse(System.out)
    val out = new java.io.PrintStream(new java.io.BufferedOutputStream(sink, 1 << 20), false, "UTF-8")
    var i = 0
    while (i < n) {
      if (quoteMode) {
        val input = genBareString(rnd)
        val r = PyJsonDumpsImpl.quote(UTF8String.fromString(input))
        out.println(enc.encodeToString(input.getBytes("UTF-8")) + "\t" +
          enc.encodeToString(r.toString.getBytes("UTF-8")))
      } else {
        val input = genTop(rnd)
        val r = PyJsonDumpsImpl.emit(UTF8String.fromString(input), PyJsonDumpsImpl.cfgOf(Nil, Nil, "."))
        val rhs = if (r == null) "NULL"
          else enc.encodeToString(r.toString.getBytes("UTF-8"))
        out.println(enc.encodeToString(input.getBytes("UTF-8")) + "\t" + rhs)
      }
      i += 1
    }
    out.flush()
  }

  /** Raw BARE string for the quote-mode fuzz: the full hostile pool —
    * C0 controls (Python escapes the named ones short, the rest as
    * lowercase `\u00xx`), `"` `\`, DEL and C1 (raw under
    * `ensure_ascii=False`), U+2028/29, non-ASCII letters, and astral
    * code points (surrogate PAIRS in the UTF-16 string).
    */
  private def genBareString(r: scala.util.Random): String = {
    val sb = new StringBuilder
    (0 until r.nextInt(24)).foreach { _ =>
      r.nextInt(10) match {
        case 0 => sb.append((r.nextInt(0x20)).toChar)             // C0 control
        case 1 => sb.append(Seq('"', '\\', '/', 0x7f.toChar)(r.nextInt(4))) // DEL: raw
        case 2 => sb.append((0x80 + r.nextInt(0x20)).toChar)      // C1: raw
        case 3 => sb.append(Seq(0x2028, 0x2029, 0xfeff)(r.nextInt(3)).toChar) // LS/PS/BOM: raw
        case 4 => sb.appendAll(Character.toChars(0x10000 + r.nextInt(0xFFFF))) // astral
        case 5 => sb.append(Seq('æ', 'ø', 'å', 'ß', '€', '→', 'ﬁ')(r.nextInt(7)))
        case _ => sb.append((0x20 + r.nextInt(0x5f)).toChar)
      }
    }
    sb.toString
  }

  private def genTop(r: scala.util.Random): String =
    // Mostly well-formed documents; a slice of mutated/malformed ones so the
    // NULL-vs-raise side of the contract is fuzzed too.
    if (r.nextInt(10) == 0) mutate(genValue(r, 0), r) else genValue(r, 0)

  private def genValue(r: scala.util.Random, depth: Int): String = {
    val roll = if (depth >= 4) r.nextInt(6) else r.nextInt(8)
    roll match {
      case 0 => genInt(r)
      case 1 => genFloat(r)
      case 2 => genString(r)
      case 3 => Seq("true", "false", "null")(r.nextInt(3))
      case 4 => if (r.nextInt(4) == 0) Seq("NaN", "Infinity", "-Infinity")(r.nextInt(3)) else genInt(r)
      case 5 => genFloat(r)
      case 6 => // array
        val k = r.nextInt(5)
        (0 until k).map(_ => genValue(r, depth + 1)).mkString("[", sep(r), "]")
      case _ => // object; ~1 in 4 non-empty ones carries DUPLICATE keys
        val k = r.nextInt(5)
        val keys = scala.collection.mutable.LinkedHashSet[String]()
        while (keys.size < k) keys += rawKey(r)
        val entries = scala.collection.mutable.ArrayBuffer[String]()
        keys.foreach(key => entries += quoteRaw(key, r) + colon(r) + genValue(r, depth + 1))
        if (k > 0 && r.nextInt(4) == 0) {
          // Duplicate-key occurrences at random positions: CPython's
          // json.loads keeps the LAST value at the FIRST occurrence's dict
          // position, and graft's rewind-and-buffer fallback must
          // byte-match that (previously a refuse-with-NULL divergence the
          // generator deliberately avoided — now fuzzed differentially).
          val keyVec = keys.toVector
          var j = 1 + r.nextInt(2)
          while (j > 0) {
            val key = keyVec(r.nextInt(keyVec.size))
            entries.insert(r.nextInt(entries.size + 1),
              quoteRaw(key, r) + colon(r) + genValue(r, depth + 1))
            j -= 1
          }
        }
        entries.mkString("{", sep(r), "}")
    }
  }

  private def sep(r: scala.util.Random): String =
    Seq(",", ", ", " ,", " , ", ",\n  ", ",\t")(r.nextInt(6))
  private def colon(r: scala.util.Random): String =
    Seq(":", ": ", " :", " : ")(r.nextInt(4))

  private def genInt(r: scala.util.Random): String = r.nextInt(8) match {
    case 0 => "0"
    case 1 => "-0"
    case 2 => (r.nextLong() % 1000).toString
    case 3 => r.nextLong().toString
    case 4 => "123456789012345678901234567890" // beyond int64: Python bigint passthrough
    case 5 => "9007199254740993" // beyond double-exact
    case _ => r.nextInt(100).toString
  }

  private def genFloat(r: scala.util.Random): String = r.nextInt(10) match {
    case 0 => "0.0"
    case 1 => "-0.0"
    case 2 => s"${r.nextInt(1000)}.${r.nextInt(1000000)}"
    case 3 => s"${r.nextInt(100)}e${if (r.nextBoolean()) "+" else "-"}${r.nextInt(40)}"
    case 4 => s"${r.nextInt(100)}E${r.nextInt(30)}"
    case 5 => s"0.${"0" * r.nextInt(6)}${1 + r.nextInt(9)}"
    case 6 => java.lang.Double.toString(java.lang.Double.longBitsToDouble(r.nextLong())) match {
      // Java's repr of random bits can be NaN/Infinity — JSON floats can't
      case s if s.contains("NaN") || s.contains("Infinity") => "1.5"
      case s => s
    }
    case 7 => "1e999" // overflow -> Python float('inf')
    case 8 => s"${r.nextInt(10)}.${r.nextInt(100)}e${r.nextInt(20)}"
    case _ => s"-${r.nextInt(1000)}.${1 + r.nextInt(999)}"
  }

  private def rawKey(r: scala.util.Random): String =
    (0 until 1 + r.nextInt(6)).map(_ => charPool(r)).mkString

  private def genString(r: scala.util.Random): String = quoteRaw(
    (0 until r.nextInt(10)).map(_ => charPool(r)).mkString, r)

  /** Wrap raw text as a JSON string token, randomly escaping some chars the
    * long way (`\uXXXX`) so decode→re-encode canonicalization is exercised.
    */
  private def quoteRaw(s: String, r: scala.util.Random): String = {
    val sb = new StringBuilder("\"")
    s.foreach { c =>
      if (c == '"' ) sb.append("\\\"")
      else if (c == '\\') sb.append("\\\\")
      else if (c < 0x20) sb.append(f"\\u$c%04x".replace(' ', '0'))
      else if (c == '/' && r.nextBoolean()) sb.append("\\/")
      else if (r.nextInt(8) == 0) sb.append(f"\\u${c.toInt}%04x")
      else sb.append(c)
    }
    sb.append('"').toString
  }

  private def charPool(r: scala.util.Random): Char = r.nextInt(8) match {
    case 0 | 1 | 2 | 3 => ('a' + r.nextInt(26)).toChar
    case 4 => Seq('æ', 'ø', 'å', 'ß', '€', '→')(r.nextInt(6))
    case 5 => Seq('"', '\\', '/', '\n', '\t', '\b', '\f', '\r')(r.nextInt(8))
    case 6 => ' ' // raw U+2028: Python emits it raw under ensure_ascii=False
    case _ => (0x20 + r.nextInt(0x5f)).toChar
  }

  /** Corrupt a well-formed document: truncation, stray token, bad number,
    * raw control char, single quotes — the NULL side of the contract.
    */
  private def mutate(s: String, r: scala.util.Random): String = r.nextInt(7) match {
    case 0 => s.substring(0, r.nextInt(s.length max 1))
    case 1 => s + " trailing"
    case 2 => s.replace(':', '=')
    case 3 => "{\"a\":007}"
    case 4 => "{\"a\":+5}"
    case 5 => "\"ab\""
    case _ => s.replace('"', '\'')
  }
}
