package graft

import org.apache.spark.sql.functions._

/** Property-fuzz for the text rule batteries (VERDICT r14 task 5 — the
  * decoder-fuzzing treatment for CorpusStats): the C4/dup-line gate keys
  * run only over the modular `c4SynthPage` schedule, so these rules had
  * never seen arbitrary multi-line text. A seeded generator produces
  * documents mixing empty lines, whitespace-only lines, single-char
  * lines, unicode (BMP), brace/lorem/javascript tells, all-duplicate
  * pages and megaline edge cases; every Spark verdict is checked against
  * an independent plain-Scala reimplementation of the rule algebra, plus
  * the cross-operator invariants (executor keep-set ≡ rules keep-set;
  * cleaned sha stable under appending a rule-rejected line). */
class TextRulesFuzzSpec extends SparkSuite {
  // ---- plain-Scala model of the rule algebra (independent re-derivation,
  // not a call into the operators) ----
  private def wsWords(l: String): Int =
    l.split("\\s+").count(_.nonEmpty)
  private def lineKeep(l: String): Boolean =
    (l.endsWith(".") || l.endsWith("!") || l.endsWith("?") ||
      l.endsWith("\"")) &&
      wsWords(l) >= 5 &&
      !l.toLowerCase(java.util.Locale.ROOT).contains("javascript")
  private case class C4Model(
      nLines: Long, keptLines: Long, keptChars: Long, nSentences: Long,
      noLorem: Boolean, noBrace: Boolean, keep: Boolean, cleanedSha: String)
  private def c4Model(text: String): C4Model = {
    val lines = text.split("\n", -1)
    val kept = lines.filter(lineKeep)
    val keptText = kept.mkString("\n")
    val ns = keptText.count(c => c == '.' || c == '!' || c == '?').toLong
    val noLorem =
      !text.toLowerCase(java.util.Locale.ROOT).contains("lorem ipsum")
    val noBrace = !text.contains("{")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val sha = md.digest(keptText.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    C4Model(lines.length.toLong, kept.length.toLong,
      keptText.length.toLong, ns, noLorem, noBrace,
      ns >= 3 && noLorem && noBrace, sha)
  }
  private case class DupModel(
      nLines: Long, dupLines: Long, lineChars: Long, dupLineChars: Long)
  private def dupModel(text: String): DupModel = {
    val lines = text.split("\n", -1)
    val distinct = lines.distinct
    DupModel(
      lines.length.toLong,
      (lines.length - distinct.length).toLong,
      lines.map(_.length.toLong).sum,
      lines.map(_.length.toLong).sum - distinct.map(_.length.toLong).sum)
  }
  private def r6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  // ---- seeded generator: adversarial line soup (BMP-only so character
  // counts agree between UTF8String.numChars and java.lang.String) ----
  private def genDocs(seed: Long, n: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val words = Vector("the", "and", "naïve", "café", "Zürich", "word",
      "δοκιμή", "проба", "x", "q9", "a.b", "{x}", "JavaScript", "ipsum")
    def word() = words(rnd.nextInt(words.size))
    def line(): String = rnd.nextInt(12) match {
      case 0 => ""
      case 1 => "   "
      case 2 => "x"
      case 3 => "."
      case 4 => (1 to 5 + rnd.nextInt(4)).map(_ => word()).mkString(" ") + "."
      case 5 => (1 to 5 + rnd.nextInt(4)).map(_ => word()).mkString(" ")
      case 6 => (1 to 2 + rnd.nextInt(2)).map(_ => word()).mkString(" ") + "!"
      case 7 => "please enable JavaScript to continue browsing here."
      case 8 => "Lorem IPSUM dolor sit amet consectetur."
      case 9 => "int main() { return 0; }"
      case 10 => "\"" + (1 to 6).map(_ => word()).mkString(" ") + "\""
      case _ => (word() + "\t") * (1 + rnd.nextInt(3)) + word() + "?"
    }
    val edge = Seq(
      "",                       // empty document
      "\n",                     // one empty line boundary
      "\n\n\n",                 // all-empty lines
      "dup dup dup dup dup.\n" * 6 dropRight 1, // all-duplicate page
      ("mega " * 4000).trim + ".", // single megaline
      "no terminal marks anywhere on this line at all\n" * 4 dropRight 1)
    val gen = (1 to n).map { i =>
      val k = 1 + rnd.nextInt(14)
      val base = (1 to k).map(_ => line())
      // with probability ~1/3, inject duplicate runs
      val doc =
        if (rnd.nextInt(3) == 0 && base.nonEmpty) {
          val d = base(rnd.nextInt(base.size))
          rnd.shuffle(base ++ Seq.fill(1 + rnd.nextInt(4))(d)).mkString("\n")
        } else base.mkString("\n")
      doc
    }
    (edge ++ gen).zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) }
  }

  test("c4Rules / c4FilterExecute / dupLineStats vs an independent model over adversarial line soup") {
    val s = spark
    import s.implicits._
    val docs = genDocs(seed = 0xC4C4L, n = 220)
    val df = docs.toDF("doc_id", "text").localCheckpoint(true)
    val rules = graft.operators.CorpusStats
      .c4Rules(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    val execOut = graft.operators.CorpusStats
      .c4FilterExecute(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    val dup = graft.operators.CorpusStats
      .dupLineStats(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rules.size == docs.size && dup.size == docs.size)
    docs.foreach { case (id, text) =>
      val m = c4Model(text)
      val r = rules(id)
      assert(r.getLong(1) == m.nLines, s"doc $id n_lines")
      assert(r.getLong(2) == m.keptLines, s"doc $id kept_lines")
      assert(r.getLong(3) == m.keptChars, s"doc $id kept_chars")
      assert(r.getLong(4) == m.nSentences, s"doc $id n_sentences")
      assert(r.getBoolean(7) == m.noLorem && r.getBoolean(8) == m.noBrace,
        s"doc $id tells")
      assert(r.getBoolean(9) == m.keep, s"doc $id keep")
      val frac = r.get(5)
      if (m.nLines > 0)
        assert(frac == r6(m.keptLines.toDouble / m.nLines), s"doc $id frac")
      // executor keep-set ≡ rules keep-set, counts + sha agree
      assert(execOut.contains(id) == m.keep, s"doc $id executor keep-set")
      execOut.get(id).foreach { e =>
        assert(e.getLong(1) == m.keptLines, s"doc $id exec kept_lines")
        assert(e.getString(2) == m.cleanedSha, s"doc $id cleaned sha")
      }
      val dm = dupModel(text)
      val d = dup(id)
      assert(d.getLong(1) == dm.nLines && d.getLong(2) == dm.dupLines &&
        d.getLong(3) == dm.lineChars && d.getLong(4) == dm.dupLineChars,
        s"doc $id dup counts: $d vs $dm")
      if (dm.nLines > 0) {
        val f = d.getDouble(5)
        assert(f == r6(dm.dupLines.toDouble / dm.nLines) &&
          f >= 0.0 && f <= 1.0, s"doc $id dup_line_frac")
      }
      if (dm.lineChars > 0) {
        val f = d.getDouble(6)
        assert(f == r6(dm.dupLineChars.toDouble / dm.lineChars) &&
          f >= 0.0 && f <= 1.0, s"doc $id dup_char_frac")
      }
      assert(d.getBoolean(7) == (10 * dm.dupLines <= 3 * dm.nLines))
      assert(d.getBoolean(8) == (5 * dm.dupLineChars <= dm.lineChars))
    }
  }

  test("cleaned sha is stable under appending a rule-rejected line (rewrite neutrality)") {
    val s = spark
    import s.implicits._
    val base = genDocs(seed = 0xFACEL, n = 60)
    val kept = base.filter { case (_, t) => c4Model(t).keep }
    assert(kept.nonEmpty, "generator produced no kept docs")
    // the junk line fails c4LineKeep (no terminal mark, < 5 words) and
    // carries none of the page tells — the REWRITE must be identical
    val mutated = kept.map { case (id, t) => (id, t + "\nx junk") }
    def shas(docs: Seq[(Long, String)]): Map[Long, String] =
      graft.operators.CorpusStats
        .c4FilterExecute(docs.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val a = shas(kept)
    val b = shas(mutated)
    assert(a.keySet == b.keySet,
      "appending a rejected line flipped a page verdict")
    a.foreach { case (id, sha) =>
      assert(b(id) == sha, s"doc $id cleaned sha changed") }
  }
}
