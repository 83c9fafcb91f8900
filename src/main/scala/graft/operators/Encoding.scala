package graft.operators

import java.nio.charset.Charset
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unicode/mojibake repair — the ftfy-posture cleaning stage that runs
  * BEFORE language-id and quality scoring: crawled corpora carry
  * UTF-8 text that was decoded as windows-1252/latin-1 somewhere in
  * the pipeline ("CafÃ©", "donâ€™t"), typographic confusables that
  * fragment token statistics (’ vs ', NBSP vs space), and stray
  * control characters from binary junk.
  *
  * Everything is DATA-DRIVEN and generated, never hand-typed: each
  * repaired character's mojibake forms are COMPUTED by round-tripping
  * its UTF-8 bytes through both single-byte codecs
  * (`new String(ch.getBytes(UTF_8), windows1252 | latin1)`), so the
  * table cannot drift from the encodings it models, and the DuckDB
  * oracle replays the identical ordered `replace` chain generated
  * from the same table.
  *
  * Repair runs the table in TWO passes: pass one fixes singly-encoded
  * sequences; because [[RepairedChars]] includes Ã/Â/â themselves,
  * doubly-encoded text ("ÃƒÂ©" — mojibake applied twice) collapses to
  * the singly-encoded form in pass one and lands in pass two. Every
  * `from` is at least two characters and no single `to` character
  * contains one, but text whose REAL content happens to spell a
  * mojibake sequence ("Ã" legitimately followed by "©") is repaired
  * anyway — the fundamental mojibake ambiguity every repairer (ftfy
  * included) shares; on natural text such sequences are
  * overwhelmingly more likely to BE mojibake than to mean themselves.
  *
  * Scale shape: every function here is a map-only chain of codegen'd
  * string primitives (`replace`/`regexp_replace`) — no shuffle, no
  * state; cost is O(tableSize × passes) linear scans per value, the
  * price of cross-engine replayability (a single-pass longest-match
  * `Expression` would beat it constant-factor-wise but could not be
  * replayed by the oracle).
  */
object Encoding {

  private val Cp1252: Charset = Charset.forName("windows-1252")

  /** Characters whose mojibake forms are repaired: the Latin-1
    * letters/symbols common in crawled European-language text, the
    * cp1252 typographic page (curly quotes, dashes, ellipsis, …), the
    * no-break space, and Ã/Â/â/Å/Æ/Ë themselves so DOUBLE-encoded
    * sequences collapse pass-over-pass.
    */
  val RepairedChars: Seq[Char] =
    ("éèêëáàâäãåçíìîïñóòôöõúùûüýÿÉÈÀÂÃÄÇÖÜÑßÅÆË«»°·¿¡©®" +
      "€" + // €
      "‘’‚“”„" + // ‘ ’ ‚ “ ” „
      "–—•…‰" + // – — • … ‰
      "™ŒœŠšŽžŸ" + // ™ Œ œ Š š Ž ž Ÿ
      "\u00a0" // no-break space
    ).toSeq

  /** Ordered (mojibake, repaired) pairs: for each repaired char, its
    * UTF-8 bytes decoded as cp1252 and as latin-1 (distinct only when
    * a byte falls in 0x80–0x9F, where the codecs differ; Java's
    * cp1252 maps its five undefined bytes to the C1 controls, same as
    * latin-1). Longest `from` first so three-byte sequences repair
    * before their two-byte prefixes; ties ordered lexicographically
    * for determinism.
    */
  val MojibakeTable: Seq[(String, String)] = RepairedChars
    .flatMap { ch =>
      val bytes = ch.toString.getBytes(UTF_8)
      Seq(new String(bytes, Cp1252), new String(bytes, ISO_8859_1))
        .distinct.map(_ -> ch.toString)
    }
    // cp1252 leaves five bytes undefined (0x81 0x8D 0x8F 0x90 0x9D —
    // Java decodes them to U+FFFD, and real-world decoders often emit
    // the same). An FFFD matches ANY unmappable byte, so such a `from`
    // is kept only when at least two NON-FFFD characters anchor it
    // ("â€�" → ” is unambiguous in context; a lone "Ã�"
    // would not be)
    .filter { case (f, _) => f.count(_ != '�') >= 2 }
    .distinct
    .sortBy { case (f, _) => (-f.length, f) }

  /** Confusable/typographic normalization (NFKC-lite, the CCNet
    * normalization posture): curly quotes → ASCII quotes, dash runs →
    * '-', ellipsis → '...', exotic spaces → ' ', zero-widths removed.
    * Applied AFTER [[repairMojibake]] (the repair table's `from`
    * strings contain these characters).
    */
  val ConfusablesTable: Seq[(String, String)] = Seq(
    "‘" -> "'", "’" -> "'", "‚" -> "'", "ʼ" -> "'",
    "“" -> "\"", "”" -> "\"", "„" -> "\"",
    "«" -> "\"", "»" -> "\"",
    "–" -> "-", "—" -> "-", "―" -> "-",
    "…" -> "...", "•" -> "-",
    "\u00a0" -> " ", "\u2009" -> " ", "\u2002" -> " ", "\u2003" -> " ",
    "\u200b" -> "", "\u200c" -> "", "\u200d" -> "", "\ufeff" -> "")

  /** C0 controls except tab/newline/CR, DEL, and the C1 block —
    * mojibake leftovers (latin-1-decoded 0x80–0x9F bytes the table
    * didn't claim) and binary junk.
    */
  val ControlCharClass: String =
    "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F]"

  /** The repair chain over `passes` applications of [[MojibakeTable]]
    * (2 covers double-encoding; see class doc).
    */
  def repairMojibake(c: Column, passes: Int = 2): Column = {
    require(passes >= 1, "passes must be >= 1")
    (1 to passes).foldLeft(c) { (x, _) =>
      MojibakeTable.foldLeft(x) { case (y, (f, t)) =>
        replace(y, lit(f), lit(t))
      }
    }
  }

  /** Ordered [[ConfusablesTable]] application. */
  def normalizeConfusables(c: Column): Column =
    ConfusablesTable.foldLeft(c) { case (y, (f, t)) =>
      replace(y, lit(f), lit(t))
    }

  /** Strip [[ControlCharClass]] characters. */
  def stripControls(c: Column): Column =
    regexp_replace(c, ControlCharClass, "")

  /** One character class covering every way a row can be non-clean:
    * the mojibake tables' LEAD characters (every multi-char `from`
    * starts with one, so a row without any cannot match any repair),
    * the single-char confusable `from`s, and the control block. A row
    * matching NOTHING in this class is a PROVEN fixed point of the
    * whole [[fixText]] cascade — the basis of the suspect-guard
    * fast path (measured 15× on a clean-row throughput probe:
    * the ~200-replace cascade costs 15 scan-passes, so clean rows —
    * the overwhelming majority of a real corpus — must not pay it).
    */
  val SuspectCharClass: String = {
    val chars = (MojibakeTable.map(_._1.head) ++
      ConfusablesTable.map(_._1).filter(_.length == 1).map(_.head))
      .distinct.sorted
    // \x{XXXX} escapes parse identically in Java regex and RE2
    "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F" +
      chars.map(ch => f"\\x{${ch.toInt}%04x}").mkString + "]"
  }

  /** Every concrete character of [[SuspectCharClass]] as one string
    * (the control ranges enumerated), for the translate-based guard.
    */
  private[graft] val SuspectChars: String =
    (((0x00 to 0x08) ++ Seq(0x0B, 0x0C) ++ (0x0E to 0x1F) ++
      (0x7F to 0x9F)).map(_.toChar) ++
      MojibakeTable.map(_._1.head) ++
      ConfusablesTable.map(_._1).filter(_.length == 1).map(_.head))
      .distinct.mkString

  /** The full fix: repair → normalize → strip, behind a TWO-STAGE
    * guard: (1) `ascii_clean` — one codegen'd BYTE scan
    * ([[graft.functions.AsciiClean]]); a printable-ASCII(+tab/LF/CR)
    * row is a strict-superset test of [[SuspectCharClass]], so
    * skipping is exact; (2) the cascade itself runs as the single
    * imperative [[graft.functions.MojibakeFix]] expression (the SAME
    * ordered tables — its first act is a precise suspect-char scan, so
    * legitimately-accented clean text also passes through untouched).
    * Measured on a clean-row throughput probe: the declarative
    * ~200-replace chain cost ~15 scan-passes per value unguarded and
    * still ~4 guarded (400 codegen nodes of cold code); the imperative
    * form costs ~the md5-baseline pass on clean corpora. The DuckDB
    * oracle replays the UNGUARDED declarative chain
    * ([[duckFixStages]]) — identical results: `repairMojibake`/
    * `normalizeConfusables`/`stripControls` remain the executable
    * definition MojibakeFix mirrors table-for-table, pinned by
    * `EncodingSpec`'s declarative ≡ imperative property.
    */
  def fixText(c: Column, passes: Int = 2): Column =
    when(graft.functions.GraftFunctions.ascii_clean(c), c)
      .otherwise(call_function("fix_text", c, lit(passes)))

  /** Frame-level stage: adds `<textCol>_fixed` plus the audit columns
    * `n_raw` / `n_fixed` (char counts before/after) and `changed`.
    * The original column is kept — callers overwrite it when wiring
    * into a pipeline ([[graft.pipelines.TrainingData.clean]]'s
    * `fixEncoding` does).
    */
  def fix(df: DataFrame, textCol: String, passes: Int = 2): DataFrame =
    df.select(df.columns.map(col).toIndexedSeq ++ Seq(
      fixText(col(textCol), passes).as(s"${textCol}_fixed")): _*)
      .withColumn("n_raw", length(col(textCol)).cast("long"))
      .withColumn("n_fixed", length(col(s"${textCol}_fixed")).cast("long"))
      .withColumn("changed", col(s"${textCol}_fixed") =!= col(textCol))

  /** The DuckDB replay of [[fixText]], generated from the SAME tables
    * (dev/oracle use): the ordered `replace(...)` chain — `passes`
    * repair rounds, the confusables round, then one global
    * `regexp_replace` for [[ControlCharClass]] — CHUNKED into stages
    * of at most `maxDepth` nested calls because DuckDB's binder
    * recursion caps at 128 per expression. Each returned stage is an
    * expression over `expr`, which the caller rebinds to the previous
    * stage's output column (CTE pipelining); chunk boundaries preserve
    * entry order, so the staged chain is the literal same sequence of
    * replacements as [[fixText]]'s fold.
    */
  def duckFixStages(expr: String, passes: Int = 2,
      maxDepth: Int = 80): Seq[String] = {
    def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"
    val entries = Seq.fill(passes)(MojibakeTable).flatten ++
      ConfusablesTable
    val chunks = entries.grouped(maxDepth).toSeq.map { group =>
      group.foldLeft(expr) { case (acc, (f, t)) =>
        s"replace($acc, ${sqlLit(f)}, ${sqlLit(t)})"
      }
    }
    chunks :+ s"regexp_replace($expr, '$ControlCharClass', '', 'g')"
  }
}
