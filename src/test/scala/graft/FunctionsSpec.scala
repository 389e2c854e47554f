package graft

import graft.functions.{Grel, Rml, Text}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

class FunctionsSpec extends SparkSpecBase {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column): T =
    spark.range(1).select(c).collect().head.getAs[T](0)

  test("normalizeDate pads partial ISO dates (RmlFunctions.java:138-161 semantics)") {
    val df = Seq("2020", "2020-05", "20200517", "2020-05-17", "garbage")
      .toDF("d").select(Rml.normalizeDate($"d").as("n"))
    assert(df.collect().map(_.getString(0)).toSeq ==
      Seq("2020-01-01", "2020-05-01", "2020-05-17", "2020-05-17", "garbage"))
  }

  test("normalizeUnixDate: days since epoch") {
    val got = Seq(0, 19000).toDF("d")
      .select(Rml.normalizeUnixDate($"d").cast("string")).collect()
      .map(_.getString(0)).toSeq
    assert(got == Seq("1970-01-01", "2022-01-08"))
  }

  test("epochTimeToDateTime: epoch millis and literal formats") {
    val got = Seq("1577836800000", "2020-01-01T00:00:00", "2020-01-01", "nope")
      .toDF("v").select(Rml.epochTimeToDateTime($"v").cast("string")).collect()
      .map(_.getString(0)).toSeq
    assert(got(0) == "2020-01-01 00:00:00")
    assert(got(1) == "2020-01-01 00:00:00")
    assert(got(2) == "2020-01-01 00:00:00")
    assert(got(3) == null)
  }

  test("generateHashedIri: sha256 of joined params, null-safe") {
    val df = Seq(("a", "b")).toDF("x", "y")
    val iri = df.select(Rml.generateHashedIri("urn:x:", $"x", $"y")).collect().head.getString(0)
    val expected = "urn:x:" + java.security.MessageDigest.getInstance("SHA-256")
      .digest("a_b".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(iri == expected)
  }

  test("generateIRIWithSplit flattens, trims, prefixes") {
    val df = Seq(Seq("a; b", "c")).toDF("arr")
    val got = df.select(Rml.generateIriWithSplit($"arr", ";", "urn:")).collect()
      .head.getSeq[String](0)
    assert(got == Seq("urn:a", "urn:b", "urn:c"))
  }

  test("cast validation modes (ValidatingValueFactory semantics)") {
    val df = Seq("42", "bad").toDF("v")
    val ph = df.select(Rml.castWithPlaceholder($"v", IntegerType, 0)).collect()
      .map(_.getInt(0)).toSeq
    assert(ph == Seq(42, 0)) // invalid int → placeholder "0"
    val fb = df.select(Rml.castWithStringFallback($"v", IntegerType)).collect()
      .map(_.getString(0)).toSeq
    assert(fb == Seq("42", "bad")) // fallback-to-string keeps raw
  }

  test("GREL string functions") {
    val df = Seq("Hello World").toDF("s")
    val got = df.select(
      Grel.slice($"s", 0, 5), Grel.getChar($"s", 6), Grel.indexOfCol($"s", "World"),
      Grel.chomp($"s", "World"), Grel.replaceChars($"s", "lo", "01")).collect().head
    assert(got.getString(0) == "Hello")
    assert(got.getString(1) == "W")
    assert(got.getInt(2) == 6)
    assert(got.getString(3) == "Hello ")
    assert(got.getString(4) == "He001 W1r0d") // translate: l→0, o→1
  }

  test("a mapping's GREL toLowerCase / trim / sha1 are Spark's null-safe builtins") {
    // MappingCompiler's function registry maps these names straight to the
    // builtins; GRELFunctions' null in → null out holds with no wrapper
    val got = Seq(Some("  Hello World  "), None).toDF("s")
      .select(lower($"s"), trim($"s"), sha1(trim($"s"))).collect()
    assert(got(0).toSeq == Seq("  hello world  ", "Hello World",
      "0a4d55a8d778e5022fab701977c5d840bbc486d0"))
    assert(got(1).toSeq == Seq(null, null, null))
  }

  test("GREL splitByLengths / splitByCharType / diff") {
    val df = Seq("internationalization").toDF("s")
    val parts = df.select(Grel.splitByLengths($"s", 5, 6, 3)).collect()
      .head.getSeq[String](0)
    assert(parts == Seq("inter", "nation", "ali"))
    val runs = Seq("abc123 !?x").toDF("s")
      .select(Grel.splitByCharType($"s")).collect().head.getSeq[String](0)
    assert(runs == Seq("abc", "123", " ", "!?", "x"))
    // commons-lang3 parity: case runs are distinct character types
    val camel = Seq("HenryCTaylor").toDF("s")
      .select(Grel.splitByCharType($"s")).collect().head.getSeq[String](0)
    assert(camel == Seq("H", "enry", "CT", "aylor"))
    // commons-lang3 parity: equal strings diff to "" (not null)
    val d = Seq(("cologne", "cologne cathedral"), ("same", "same"))
      .toDF("a", "b")
      .select(Grel.diffCol($"a", $"b")).collect().map(_.getString(0)).toSeq
    assert(d == Seq(" cathedral", ""))
    // commons null semantics: difference(null,b)=b, difference(a,null)=a
    val dn = Seq((Option("a"), Option.empty[String]),
        (Option.empty[String], Option("b")),
        (Option.empty[String], Option.empty[String])).toDF("a", "b")
      .select(Grel.diffCol($"a", $"b")).collect()
    assert(dn(0).getString(0) == "a" && dn(1).getString(0) == "b" && dn(2).isNullAt(0))
  }

  test("GREL partition parts") {
    val df = Seq("key=value=more", "nosep").toDF("s")
    val (b, sep, a) = Grel.partitionParts($"s", "=")
    val rows = df.select(b, sep, a).collect()
    assert((rows(0).getString(0), rows(0).getString(1), rows(0).getString(2)) ==
      (("key", "=", "value=more")))
    assert((rows(1).getString(0), rows(1).getString(1), rows(1).getString(2)) ==
      (("nosep", null, null)))
  }

  test("GREL rpartition parts (last occurrence)") {
    val df = Seq("parallel", "nosep").toDF("s")
    val (b, sep, a) = Grel.rpartitionParts($"s", "a")
    val rows = df.select(b, sep, a).collect()
    assert((rows(0).getString(0), rows(0).getString(1), rows(0).getString(2)) ==
      (("par", "a", "llel"))) // GRELFunctions.java:548-578 example
    assert((rows(1).getString(0), rows(1).getString(1), rows(1).getString(2)) ==
      (("nosep", null, null)))
  }

  test("GREL smartSplit: quote-aware, guesses tab vs comma") {
    val df = Seq(
      """a,"b,c",d""", // quoted comma survives
      "x\ty\tz", // tab guessed
      "p,q").toDF("s")
    val got = df.select(Grel.smartSplit($"s")).collect().map(_.getSeq[String](0)).toSeq
    assert(got(0) == Seq("a", "\"b,c\"", "d"))
    assert(got(1) == Seq("x", "y", "z"))
    assert(got(2) == Seq("p", "q"))
    val explicit = df.limit(1).select(Grel.smartSplit($"s", Some(","))).collect()
      .head.getSeq[String](0)
    assert(explicit == Seq("a", "\"b,c\"", "d"))
  }

  test("GREL escape/unescape round-trips per mode") {
    val fixtures = Seq(
      ("html", """<a href="x">Tom & Jerry</a>"""),
      ("xml", """<tag attr="v">it's & more</tag>"""),
      ("csv", """say "hi", ok"""),
      ("url", "a b&c/d?e=f"),
      ("javascript", "line1\nline2\t\"quoted\" \\ 'single'"))
    fixtures.foreach { case (mode, raw) =>
      val df = Seq(raw).toDF("s")
      val esc = df.select(Grel.escapeCol($"s", mode)).collect().head.getString(0)
      val back = df.select(Grel.unescapeCol(Grel.escapeCol($"s", mode), mode))
        .collect().head.getString(0)
      assert(back == raw, s"mode=$mode: $esc -> $back")
      if (mode != "csv") assert(esc != raw)
    }
    // spot-check exact escapes
    assert(one[String](Grel.escapeCol(lit("a&b<c"), "html")) == "a&amp;b&lt;c")
    // commons-text parity (the reference's backend): full HTML4 entity
    // table, ecmascript \uXXXX + \/ escaping, numeric-entity decoding;
    // html4 does NOT decode &apos; (not an HTML4 entity) but xml does
    assert(one[String](Grel.escapeCol(lit("café"), "html")) == "caf&eacute;")
    assert(one[String](Grel.escapeCol(lit("it's"), "html")) == "it's")
    assert(one[String](Grel.escapeCol(lit("é/"), "javascript")) == "\\u00E9\\/")
    assert(one[String](Grel.unescapeCol(lit("&#233;&eacute;"), "html")) == "éé")
    assert(one[String](Grel.unescapeCol(lit("&apos;&#233;"), "html")) == "&apos;é")
    assert(one[String](Grel.unescapeCol(lit("&apos;&#233;"), "xml")) == "'é")
    assert(one[String](Grel.unescapeCol(lit("\\u00E9\\/"), "javascript")) == "é/")
    assert(one[String](Grel.escapeCol(lit("a,b"), "csv")) == "\"a,b\"")
    assert(one[String](Grel.escapeCol(lit("plain"), "csv")) == "plain")
    assert(one[String](Grel.escapeCol(lit("a b"), "url")) == "a+b")
    assert(one[String](Grel.strip(lit("  x  "))) == "x")
  }

  test("GREL phonetic / reinterpret / unicode") {
    // documented vectors per algorithm
    assert(one[String](Grel.phoneticCol(lit("Robert"), "soundex")) == "R163")
    assert(one[String](Grel.phoneticCol(lit("Rupert"), "soundex")) == "R163")
    // classic Metaphone: TH -> 0 (theta)
    assert(one[String](Grel.phoneticCol(lit("Thompson"), "metaphone")) == "0MPS")
    assert(one[String](Grel.phoneticCol(lit("Smith"), "doublemetaphone")) == "SM0")
    assert(one[String](
      Grel.phoneticCol(lit("Müller-Lüdenscheidt"), "cologne")) == "65752682")
    // same word, same code — phonetic equality across spellings
    assert(one[String](Grel.phoneticCol(lit("Meier"), "cologne")) ==
      one[String](Grel.phoneticCol(lit("Mayr"), "cologne")))
    // unknown / unlicensed modes fail at plan time, not silently
    intercept[IllegalArgumentException](Grel.phoneticCol(lit("x"), "metaphone3"))
    intercept[IllegalArgumentException](Grel.phoneticCol(lit("x"), "nope"))
    // null-in → null-out
    assert(Seq[Option[String]](None).toDF("s")
      .select(Grel.phoneticCol($"s", "soundex")).collect().head.isNullAt(0))

    // reinterpret: lossy round-trip through a narrower charset
    assert(one[String](Grel.reinterpret(lit("héllo"), "US-ASCII")) == "h?llo")
    assert(one[String](Grel.reinterpret(lit("héllo"), "UTF-8")) == "héllo")

    // unicode: per-char code points (OpenRefine example "Bés" -> 66,233,115)
    assert(one[collection.Seq[Int]](Grel.unicodeCol(lit("Bés"))) == Seq(66, 233, 115))
    assert(one[collection.Seq[Int]](Grel.unicodeCol(lit(""))) == Seq.empty)
  }

  test("GREL escape/unescape edge cases: newline in CSV, backslash-n in javascript, accented soundex") {
    // CSV quoting exists FOR embedded newlines — round-trip must hold
    val csvRaw = "line1\nline2, and \"quotes\""
    assert(one[String](Grel.unescapeCol(Grel.escapeCol(lit(csvRaw), "csv"), "csv")) == csvRaw)
    // literal backslash followed by n: chained decode must not produce a newline
    val jsRaw = """C:\new\table"""
    assert(one[String](
      Grel.unescapeCol(Grel.escapeCol(lit(jsRaw), "javascript"), "javascript")) == jsRaw)
    // non-ASCII letters fold to base letters instead of crashing commons-codec
    assert(one[String](Grel.phoneticCol(lit("José"), "soundex")) ==
      one[String](Grel.phoneticCol(lit("Jose"), "soundex")))
    assert(one[String](Grel.phoneticCol(lit("Müller"), "metaphone")) ==
      one[String](Grel.phoneticCol(lit("Muller"), "metaphone")))
    // decode semantics verified against commons-text unescapeEcmaScript (the
    // reference's javascript-unescape backend): \uXXXX and octal decode;
    // \x is NOT hex (backslash dropped: \x42 -> x42); unknown escapes drop
    // the backslash; trailing backslash dropped. One deviation: malformed
    // \uXXXX stays verbatim where commons-text throws.
    assert(one[String](Grel.unescapeCol(lit("B=\\u0042"), "javascript")) == "B=B")
    assert(one[String](Grel.unescapeCol(lit("\\uu0041\\u+0041"), "javascript")) == "AA")
    assert(one[String](Grel.unescapeCol(lit("\\101\\47"), "javascript")) == "A'")
    assert(one[String](Grel.unescapeCol(lit("Aé\\x42"), "javascript")) == "Aéx42")
    assert(one[String](Grel.unescapeCol(lit("\\q A\\"), "javascript")) == "q A")
    assert(one[String](Grel.unescapeCol(lit("\\u00 4\\uZZZZ"), "javascript")) ==
      "\\u00 4\\uZZZZ")
    assert(one[String](Grel.unescapeCol(lit("""say \"hi\""""), "javascript")) ==
      "say \"hi\"")
  }

  test("json-hierarchy enrichment nulls out malformed/empty JSON instead of failing the job") {
    import graft.functions.expressions.JsonHierarchy.enrichCol
    val df = Seq(
      """{"id":"ok","child":{"x":1}}""", // valid
      """{"id":"trunc", "chi""", // truncated
      "", // empty
      "not json at all").toDF("s")
    val out = df.select(enrichCol($"s").as("e")).collect().map(r =>
      if (r.isNullAt(0)) null else r.getString(0))
    assert(out(0) != null && out(0).contains("__parentKey"))
    assert(out(1) == null && out(2) == null && out(3) == null)
  }

  test("text token counts and shingles") {
    val df = Seq("the quick  brown fox", "", "ab").toDF("t")
    val toks = df.select(Text.tokenCount($"t")).collect().map(_.getInt(0)).toSeq
    assert(toks == Seq(4, 0, 1))
    val sh = df.select(Text.wordShingles($"t", 2)).collect().head.getSeq[String](0)
    assert(sh == Seq("the quick", "quick brown", "brown fox"))
    val ch = df.select(Text.charShingles($"t", 3)).limit(1).collect().head.getSeq[String](0)
    assert(ch.head == "the" && ch.forall(_.length == 3))
  }

  test("repetition stats: duplicate n-gram fractions and the keep decision") {
    val df = Seq(
      "a a a b",            // words: 3 dup of 4 = ... g1: [a,a,a,b] → (4-2)/4 = 0.5
      "spam spam spam spam", // fully degenerate: g1 0.75, g2 ["spam spam"×3] → 2/3
      "one two three four",  // all distinct → 0 everywhere
      "",                    // empty → 0 everywhere (no grams)
      "xy"                   // single token: no 2/3-grams → 0
    ).toDF("t")
    def fracs(n: Int): Seq[Double] =
      df.select(Text.dupNgramFrac($"t", n)).collect().map(_.getDouble(0)).toSeq
    assert(fracs(1) == Seq(0.5, 0.75, 0.0, 0.0, 0.0))
    assert(fracs(2)(0) == 1.0 / 3) // [a a, a a, a b] → 1 dup of 3
    assert(fracs(2)(1) == 2.0 / 3)
    assert(fracs(2).drop(2) == Seq(0.0, 0.0, 0.0))
    val keep = df.select(Text.repetitionKeep($"t")).collect().map(_.getBoolean(0)).toSeq
    assert(keep == Seq(false, false, true, true, true))
    val why = df.select(Text.repetitionFailReasons($"t")).collect()
      .map(_.getSeq[String](0)).toSeq
    assert(why(1) == Seq("high_dup_2grams", "high_dup_3grams"))
    assert(why(2).isEmpty)
  }

  test("langid heuristic picks obvious languages") {
    val df = Seq(
      "the cat and the dog is with us",
      "el gato que vive con los perros",
      "der hund ist mit der katze und",
      "这 是 中文 文本").toDF("t")
    val got = df.select(Text.langIdHeuristic($"t")).collect().map(_.getString(0)).toSeq
    assert(got == Seq("en", "es", "de", "zh"))
  }

  test("quality score is in [0,1] and favors real text over junk") {
    val df = Seq(
      "The quick brown fox jumps over the lazy dog and runs to the river with a friend of the pack.",
      "!!! ??? ,,, ... ;;; !!!").toDF("t")
    val got = df.select(Text.qualityScore($"t")).collect().map(_.getDouble(0)).toSeq
    assert(got.forall(q => q >= 0.0 && q <= 1.0))
    assert(got(0) > got(1))
  }

  test("fingerprint: equal texts equal, different texts differ") {
    val df = Seq("a b c d e", "a b c d e", "x y z w v").toDF("t")
    val fp = df.select(Text.fingerprint($"t")).collect().map(_.getString(0)).toSeq
    assert(fp(0) == fp(1))
    assert(fp(0) != fp(2))
  }

  test("stratified sample: deterministic, rate-accurate, unconfigured strata dropped") {
    import graft.operators.Sampling
    val docs = (0L until 4000L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "lang")
    val fr = Map("a" -> 0.25, "b" -> 1.0)
    val s1 = Sampling.stratifiedSample(docs, fr, "lang")
      .collect().map(_.getLong(0)).toSet
    // determinism: same rows regardless of partitioning (no RNG, no state)
    val s2 = Sampling.stratifiedSample(docs.repartition(7), fr, "lang")
      .collect().map(_.getLong(0)).toSet
    assert(s1 == s2)
    // independent recomputation of the predicate (java MessageDigest)
    def u32(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
    }
    val expected = (0L until 4000L).filter { i =>
      u32(i) < fr(if (i % 2 == 0) "a" else "b") * 4294967296.0
    }.toSet
    assert(s1 == expected)
    // fraction-1.0 stratum kept whole; 0.25 stratum near rate
    assert(s1.count(_ % 2 == 1) == 2000)
    val aRate = s1.count(_ % 2 == 0) / 2000.0
    assert(math.abs(aRate - 0.25) < 0.05, s"rate drifted: $aRate")
    // unconfigured stratum dropped entirely
    val mixed = docs.withColumn("lang",
      when($"doc_id" < 100, lit("zz")).otherwise($"lang"))
    assert(!Sampling.stratifiedSample(mixed, fr, "lang")
      .collect().exists(_.getLong(0) < 100))
  }

  test("mixture sample: rates from histogram, epochs upsample, copies exact") {
    import graft.operators.Sampling
    // a: 100 rows, b: 50 rows, c: 30 rows (unweighted -> dropped)
    val docs = ((0L until 100L).map((_, "a")) ++ (100L until 150L).map((_, "b")) ++
      (150L until 180L).map((_, "c"))).toDF("doc_id", "lang")
    val weights = Map("a" -> 0.5, "b" -> 0.5)
    // total 300 -> rate(a) = 150/100 = 1.5; rate(b) = 150/50 = 3.0 (exact)
    val got = Sampling.mixtureSample(docs, weights, 300L, "lang")
      .select("doc_id", "epoch").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the mixture coin is SALTED ("mix:") — independent of the stratified
    // sampler's coin so the two compose without conditional bias
    def u32(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"mix:$id".getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
    }
    val want = ((0L until 100L).flatMap { i =>
      val copies = 1L + (if (u32(i) < 0.5 * 4294967296.0) 1L else 0L)
      (0L until copies).map(e => (i, e))
    } ++ (100L until 150L).flatMap(i => (0L until 3L).map(e => (i, e)))).toSet
    assert(got == want)
    // c never appears; b is exactly 3 epochs each
    assert(!got.exists(_._1 >= 150L))
    assert(got.count(_._1 >= 100L) == 150)

    // knownCounts variant: identical rows, and a SHUFFLE-FREE plan (no
    // histogram agg, no join — pure per-row filter + explode).
    val known = Sampling.mixtureSample(docs, weights, 300L, "lang",
      knownCounts = Map("a" -> 100L, "b" -> 50L, "c" -> 30L))
    val gotK = known.select("doc_id", "epoch").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotK == got)
    val plan = known.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)

    // weight 0 drops the domain exactly
    assert(Sampling.mixtureSample(docs, Map("a" -> 0.0, "b" -> 1.0), 50L, "lang")
      .select("doc_id").collect().forall(_.getLong(0) >= 100L))
  }

  test("mixture coin is independent of the stratified coin (composition)") {
    import graft.operators.Sampling
    // stratified survivors have SMALL unsalted u by construction; an
    // unsalted mixture remainder coin would therefore fire for ~all of
    // them (realized rate 2.0 instead of 1.5). With the salted coin the
    // remainder stays ~0.5 conditioned on survival.
    val docs = (0L until 8000L).map((_, "a")).toDF("doc_id", "lang")
    val survivors = Sampling.stratifiedSample(docs, Map("a" -> 0.4), "lang")
    val n = survivors.count() // ~3200
    val out = Sampling.mixtureSample(survivors, Map("a" -> 1.0),
      totalRows = (n * 1.5).toLong, domainCol = "lang")
    val realized = out.count().toDouble / n
    assert(math.abs(realized - 1.5) < 0.05,
      s"conditional bias: realized rate $realized, want ~1.5")
  }
}
