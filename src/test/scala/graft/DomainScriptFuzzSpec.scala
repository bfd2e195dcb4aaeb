package graft

import org.apache.spark.sql.functions._

/** Property-fuzz for the round-16 text operators (the TextRulesFuzzSpec
  * treatment):
  *  - E238 registered-domain extraction: a seeded generator assembles
  *    messy URLs from component pools (schemes, userinfo, label soup
  *    over every PSL rule class incl. punycode and ccTLD second-levels,
  *    ports, trailing root dots, paths/queries/fragments, random case)
  *    and every Spark verdict is checked against an independent
  *    plain-Scala PSL model (sharing only the RULE TABLE — the
  *    single-source-of-truth contract);
  *  - E239 script profile: seeded mixed CJK/Cyrillic/Latin/emoji soup,
  *    counts checked against plain-Java codepoint range classification,
  *    dominance/tie-break/mixed-flag against an independent argmax model.
  */
class DomainScriptFuzzSpec extends SparkSuite {
  // ---- plain-Scala PSL model (rule table shared with the engine) ----
  private def refRegistered(host: String): Option[String] = {
    import graft.functions.DomainFunctions._
    if (host == null) None
    else if (host.matches("^[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+$")) Some(host)
    else ExceptionRules.find(e => host == e || host.endsWith("." + e)) match {
      case Some(e) => Some(e)
      case None =>
        val labels = host.split("\\.", -1)
        val n = labels.length
        def lastK(k: Int) = labels.takeRight(k).mkString(".")
        if (TwoLabelSuffixes.contains(lastK(2)))
          if (n >= 3) Some(lastK(3)) else None
        else if (WildcardTlds.contains(labels.last))
          if (n >= 3) Some(lastK(3)) else None
        else if (n >= 2) Some(lastK(2))
        else None
    }
  }

  test("registeredDomain fuzz: 400 seeded messy URLs match the plain-Scala PSL model") {
    val rnd = new scala.util.Random(1606L)
    val labelPool = Seq("example", "a", "b7", "sub", "deep", "xn--bcher-kva",
      "xn--p1ai", "my-site", "x0", "media")
    val suffixPool = Seq("com", "org", "io", "de", "co.uk", "ac.uk",
      "com.au", "co.jp", "com.br", "ck", "b.ck", "www.ck", "er", "zz",
      "xn--p1ai")
    val schemePool = Seq("https://", "http://", "HTTPS://", "ftp://")
    val userPool = Seq("", "", "", "user@", "user:p%40ss@")
    val portPool = Seq("", "", ":80", ":8443", ":1")
    val tailPool = Seq("", "/", "/p/q", "?q=1&x=2", "/p?q#frag", "#only-frag")
    def randCase(s: String) =
      s.map(c => if (rnd.nextBoolean()) c.toUpper else c).mkString
    val cases = (1 to 400).map { i =>
      val nSub = rnd.nextInt(3)
      val labels = Seq.fill(nSub)(labelPool(rnd.nextInt(labelPool.size)))
      val suffix = suffixPool(rnd.nextInt(suffixPool.size))
      val hostLower = (labels :+ suffix).mkString(".")
      val dotted = if (rnd.nextInt(5) == 0) hostLower + "." else hostLower
      val url = schemePool(rnd.nextInt(schemePool.size)) +
        userPool(rnd.nextInt(userPool.size)) +
        randCase(dotted) +
        portPool(rnd.nextInt(portPool.size)) +
        tailPool(rnd.nextInt(tailPool.size))
      (i.toLong, url, hostLower)
    }
    val s = spark
    import s.implicits._
    val got = cases.map(c => (c._1, c._2)).toDF("id", "u")
      .select(col("id"),
        graft.functions.DomainFunctions.hostOf(col("u")).as("h"),
        graft.functions.DomainFunctions.registeredDomainOf(col("u")).as("rd"))
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)), Option(r.getString(2))))).toMap
    cases.foreach { case (id, url, hostLower) =>
      val (gh, grd) = got(id)
      assert(gh.contains(hostLower), s"url $url: host ${gh.orNull} != $hostLower")
      assert(grd == refRegistered(hostLower),
        s"url $url (host $hostLower): rd ${grd.orNull} != " +
          s"${refRegistered(hostLower).orNull}")
      // invariants: the registered domain is a dot-boundary suffix of
      // the host with at least two labels (except IP literals)
      grd.foreach { rd =>
        assert(rd == hostLower || hostLower.endsWith("." + rd),
          s"$rd not a suffix of $hostLower")
      }
    }
  }

  // ---- plain-Java codepoint model of the script classes ----
  private val RefRanges: Map[String, Seq[(Int, Int)]] = Map(
    "latin" -> Seq(('A'.toInt, 'Z'.toInt), ('a'.toInt, 'z'.toInt), (0xC0, 0x24F)),
    "cyrillic" -> Seq((0x400, 0x4FF)),
    "greek" -> Seq((0x370, 0x3FF)),
    "arabic" -> Seq((0x600, 0x6FF)),
    "hebrew" -> Seq((0x590, 0x5FF)),
    "devanagari" -> Seq((0x900, 0x97F)),
    "cjk" -> Seq((0x3400, 0x4DBF), (0x4E00, 0x9FFF)),
    "kana" -> Seq((0x3040, 0x30FF)),
    "hangul" -> Seq((0x1100, 0x11FF), (0xAC00, 0xD7AF)),
    "digit" -> Seq(('0'.toInt, '9'.toInt)),
    "emoji" -> Seq((0x2600, 0x27BF), (0x1F300, 0x1FAFF)))
  private val ScriptOrder = Seq("latin", "cyrillic", "greek", "arabic",
    "hebrew", "devanagari", "cjk", "kana", "hangul")
  private case class RefProfile(
      counts: Map[String, Long], dominant: String, mixed: Boolean)
  private def refProfile(text: String): RefProfile = {
    val cps = text.codePoints().toArray
    val counts = RefRanges.map { case (n, ranges) =>
      n -> cps.count(cp => ranges.exists { case (lo, hi) =>
        cp >= lo && cp <= hi }).toLong
    }
    val m = ScriptOrder.map(counts).max
    val dominant =
      if (m == 0) "none" else ScriptOrder.find(counts(_) == m).get
    val second = ScriptOrder.filter(_ != dominant).map(counts)
      .foldLeft(0L)(math.max)
    RefProfile(counts, dominant, second * 10 >= m && second > 0)
  }

  test("scriptProfile fuzz: 250 seeded multiscript soups match the plain-Java codepoint model") {
    val rnd = new scala.util.Random(2606L)
    val pools = Seq(
      "abcdefgh XYZ uvw ", "ÀÉïñÿĀƋɏ", "абвгдежз Ñ", "αβγδεζ",
      "مرحبا", "שלום", "नमस्ते", "你好世界漢字汉字", "こんにちはカナヘビ",
      "한글조선글", "0123456789", ".,;:!?-_()[] ", "😀🚀🧪🌍", "☀☂⚡✈")
    val texts = (1 to 250).map { i =>
      val n = rnd.nextInt(40)
      val sb = new StringBuilder
      (0 until n).foreach { _ =>
        val pool = pools(rnd.nextInt(pools.size))
        val cps = pool.codePoints().toArray
        sb.appendAll(Character.toChars(cps(rnd.nextInt(cps.length))))
      }
      (i.toLong, sb.toString)
    }
    val s = spark
    import s.implicits._
    val out = graft.operators.CorpusStats
      .scriptProfile(texts.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    texts.foreach { case (id, t) =>
      val want = refProfile(t)
      val r = out(id)
      RefRanges.keys.foreach { n =>
        assert(r.getAs[Long](s"n_$n") == want.counts(n),
          s"doc $id [$t]: n_$n ${r.getAs[Long](s"n_$n")} != ${want.counts(n)}")
      }
      assert(r.getAs[String]("dominant_script") == want.dominant,
        s"doc $id [$t]: dominant")
      assert(r.getAs[Boolean]("mixed_script") == want.mixed,
        s"doc $id [$t]: mixed")
    }
  }
}
