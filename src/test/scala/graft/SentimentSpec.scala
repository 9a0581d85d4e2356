package graft

import graft.operators.{Sentiment, VaderScorer}

/** Pins the VADER scorer: the PUBLISHED example compound scores (the
  * hardest possible gate — they exercise caps emphasis, booster damping at
  * every distance, negation, but-reweighting and punctuation emphasis
  * together), plus sign correctness, empty-content fallback, bounds, and
  * the pluggable-lexicon path.
  */
class SentimentSpec extends SparkTestBase {

  private def round4(x: Double) = math.rint(x * 10000) / 10000

  test("published VADER example scores reproduce exactly (round 4)") {
    val goldens = Seq(
      "VADER is smart, handsome, and funny." -> 0.8316,
      "VADER is smart, handsome, and funny!" -> 0.8439,
      "VADER is very smart, handsome, and funny." -> 0.8545,
      "VADER is VERY SMART, handsome, and FUNNY." -> 0.9227,
      "VADER is VERY SMART, handsome, and FUNNY!!!" -> 0.9342,
      "VADER is VERY SMART, uber handsome, and FRIGGIN FUNNY!!!" -> 0.9469,
      "VADER is not smart, handsome, nor funny." -> -0.7424,
      "The book was good." -> 0.4404,
      "At least it isn't a horrible book." -> 0.431,
      "Not bad at all" -> 0.431,
      "Today SUX!" -> -0.5461,
      "Today only kinda sux! But I'll get by, lol" -> 0.5249,
      // pins sure=1.3, ":)"=2.0, ":d"=2.3 + caps emphasis + '!' emphasis
      "Make sure you :) or :D today!" -> 0.8633,
      // round-12 widenings from the published "tricky sentences" demo:
      // the three Roger Dodger compounds jointly pin compelling=0.9 (the
      // booster, least-damping and at-least-exception paths over one word)
      "Roger Dodger is one of the most compelling variations on this theme." -> 0.2944,
      "Roger Dodger is one of the least compelling variations on this theme." -> -0.1695,
      "Roger Dodger is at least compelling as a variation on the theme." -> 0.2263,
      // pins uncompelling (calibrated) + but-reweighting + negated great
      "The plot was good, but the characters are uncompelling and the dialog is not great." -> -0.7042,
      "A really bad, horrible book." -> -0.8211,
      "Sentiment analysis has never been good." -> -0.3412,
      "Sentiment analysis has never been this good!" -> 0.5672,
      "Most automated sentiment analysis tools are shit." -> -0.5574,
      "With VADER, sentiment analysis is the shit!" -> 0.6476,
      "Other sentiment analysis tools can be quite bad." -> -0.5849,
      // round-13 widenings, each reproduced EXACTLY (4 dp) by the engine
      // before being pinned — mutual corroboration of the recalled
      // published value and the rule engine:
      "The book was only kind of good." -> 0.3832, // kind-of bigram damping
      "Warren Beatty has never been so entertaining." -> 0.5777, // never-so
      "Without a doubt, an excellent idea." -> 0.7013, // without-doubt pass
      "The movie was too good" -> 0.4404,
      "It isn't a horrible book." -> 0.431, // n't-suffix negation
      // solved the round-13 `badass` lexicon entry
      "Not such a badass after all." -> -0.2584,
      // second round-13 batch, again engine-reproduced at 4 dp before
      // pinning; the last two jointly exercise the but-clause reweight
      // with caps ("BUT") and the n't-containment negation:
      "VADER sentiment analysis is the shit." -> 0.6124,
      "Sentiment analysis with VADER has never been this good." -> 0.5228,
      "they fall in love with the product" -> 0.4588, // DOMAIN-tail note below
      "I like to hate Michael Bay films, but I couldn't fault this one" -> 0.3153,
      "I like to hate Michael Bay films, BUT I couldn't help but fault this one" -> -0.1531,
      // solved the round-13 `pay` entry
      "It's one thing to watch an Uwe Boll film, but another thing entirely to pay for it" -> -0.2541,
      // solved the round-13 `collapsed` correction
      "the twin towers collapsed today" -> -0.2732)
    // NOTE on "they fall in love with the product": the published NLTK
    // output is 0.6369 (love only — "fall" is not in the published
    // lexicon); this engine deliberately carries `fall` -1.2 in its
    // crypto-domain tail (price-move vocabulary, see the VaderScorer
    // scaladoc), so the pinned value is the ENGINE's domain-lexicon score,
    // not the stock-NLTK one — the one known class of deliberate
    // divergence. Dropping the domain tail (or configuring
    // the published file via graft.vader.lexicon) recovers 0.6369.
    goldens.foreach { case (text, expected) =>
      assert(round4(Sentiment.score(text)) == expected,
        s"'$text': got ${Sentiment.score(text)}, want $expected")
    }
  }

  test("question-mark emphasis: 2-3 add 0.18 each, beyond caps at 0.96") {
    val base = Sentiment.score("great gain")
    val one = Sentiment.score("great gain?") // single ? adds nothing
    val two = Sentiment.score("great gain??")
    val three = Sentiment.score("great gain???")
    val four = Sentiment.score("great gain????")
    val nine = Sentiment.score("great gain?????????")
    assert(one == base)
    assert(two > base && three > two)
    assert(four == nine) // 0.96 cap
  }

  test("but-clause reweighting: pre-but halved, post-but amplified") {
    val s = Sentiment.score("the plot was good but the ending was terrible")
    // 1.9*0.5 - 2.1*1.5 = -2.2 -> negative despite the positive opener
    assert(s < 0)
    val flipped = Sentiment.score("the ending was terrible but the plot was good")
    assert(flipped > 0)
  }

  test("never so/this intensifies instead of negating") {
    // "never so good": never is 2 back -> x1.25, not x-0.74
    assert(Sentiment.score("it was never so good") >
      Sentiment.score("it was good"))
    assert(Sentiment.score("it was never good") < 0)
  }

  test("pluggable mini-lexicon scorer keeps the rule engine") {
    val mini = new VaderScorer(
      Map("nice" -> 2.0), Map("very" -> 0.293), Set("not"), Map.empty)
    assert(mini.score("nice") > 0)
    assert(mini.score("very nice") > mini.score("nice"))
    assert(mini.score("not nice") < 0)
    assert(mini.score("good") == 0.0) // outside the mini lexicon
  }

  test("fromLexiconFile parses the published TSV format") {
    val f = java.nio.file.Files.createTempFile("vader", ".txt")
    java.nio.file.Files.writeString(f,
      "happy\t2.7\t0.7\t[3, 2, 3]\nsad\t-2.1\t0.8\t[-2, -2, -2]\n")
    val sc = VaderScorer.fromLexiconFile(f.toString)
    assert(sc.score("happy") > 0 && sc.score("sad") < 0)
    java.nio.file.Files.delete(f)
  }

  test("fromLexiconFile names the file and line of a malformed entry; " +
      "blank lines are skipped") {
    val f = java.nio.file.Files.createTempFile("vader-bad", ".txt")
    try {
      // line 2 is blank (skipped), line 3 lost its tab
      java.nio.file.Files.writeString(f, "happy\t2.7\t0.7\t[3, 2, 3]\n\nsad -2.1\n")
      val e = intercept[IllegalArgumentException] {
        VaderScorer.fromLexiconFile(f.toString)
      }
      assert(e.getMessage.contains(s"$f:3:"), e.getMessage)
    } finally java.nio.file.Files.delete(f)
    // a non-numeric valence and a missing token fail the same way
    for (bad <- Seq("bad\tx", "\t2.0")) {
      val e = intercept[IllegalArgumentException] {
        VaderScorer.parseLexicon(Iterator("ok\t1.0", bad), "mem")
      }
      assert(e.getMessage.contains("mem:2:"), e.getMessage)
    }
  }

  test("embedded resource copied to a file loads to the same lexicon " +
      "(one parser for both paths)") {
    val f = java.nio.file.Files.createTempFile("vader-copy", ".tsv")
    try {
      val in = getClass.getClassLoader
        .getResourceAsStream(graft.operators.VaderData.LexiconResource)
      try java.nio.file.Files.copy(in, f,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
      assert(VaderScorer.fromLexiconFile(f.toString).lexicon ==
        Sentiment.lexicon)
    } finally java.nio.file.Files.delete(f)
  }

  test("full-lexicon file path: goldens survive the file round trip, " +
      "coverage grows") {
    // stand-in for the published ~7.5k-entry vader_lexicon.txt (zero-egress
    // container ships no copy): the embedded lexicon dumped in the published
    // TSV format plus an out-of-subset entry — proves the FILE path drives
    // the identical rule engine and that a fuller file widens coverage
    val f = java.nio.file.Files.createTempFile("vader-full", ".txt")
    val tsv = (Sentiment.lexicon.toSeq.sorted
      .map { case (w, v) => s"$w\t$v\t0.5\t[0]" } :+ "zestful\t2.6\t0.6\t[3, 2]")
      .mkString("\n")
    java.nio.file.Files.writeString(f, tsv)
    val sc = VaderScorer.fromLexiconFile(f.toString)
    assert(round4(sc.score("VADER is VERY SMART, handsome, and FUNNY!!!")) == 0.9342)
    assert(round4(sc.score("VADER is not smart, handsome, nor funny.")) == -0.7424)
    // "zestful" is OOV for the embedded subset ("rally" is NOT — it's in the
    // crypto-domain tail), so pair it with a neutral word to isolate coverage
    assert(Sentiment.score("a zestful outcome") == 0.0) // embedded subset: OOV
    assert(sc.score("a zestful outcome") > 0.3) // file lexicon covers it
    java.nio.file.Files.delete(f)
  }

  test("active scorer resolves the configured lexicon file, embedded otherwise") {
    val f = java.nio.file.Files.createTempFile("vader-cfg", ".txt")
    java.nio.file.Files.writeString(f, "zorp\t1.9\t0.5\t[2]\n")
    val prop = "graft.vader.lexicon"
    val embeddedSize = graft.operators.VaderData.lexicon.size
    try {
      System.setProperty(prop, f.toString)
      val configured = Sentiment.resolveActive()
      assert(configured.lexicon == Map("zorp" -> 1.9))
      // scores SHIFT to the file's valences: "zorp" is OOV embedded,
      // positive under the file; "good" is the reverse
      assert(configured.score("zorp") > 0.3)
      assert(Sentiment.score("zorp") == 0.0)
      assert(configured.score("good") == 0.0)
      assert(Sentiment.score("good") > 0.3)
      // the embedded tables are untouched while the property is set
      assert(graft.operators.VaderData.lexicon.size == embeddedSize)
    } finally {
      System.clearProperty(prop)
      java.nio.file.Files.delete(f)
    }
    // unset -> the embedded-subset scorer itself
    assert(Sentiment.resolveActive() eq Sentiment)
  }

  test("round-13 symbol-emoticon tail reaches the scorer through the " +
      "<=2-char punctuation-strip preservation path") {
    // every token here strips to an alnum core of <= 2 chars, so the raw
    // token survives tokenization and must hit its lexicon entry — sign
    // assertions (structural: smile vs frown vs sneer), not exact means,
    // so a +-0.3 transcription drift cannot flake the suite
    val positive = Seq("(:", "(8", "(-:", "0:)", ":*", ":-*",
      "*\\0/*", "\\m/", "x-d", "8d", "---'-;-{@")
    val negative = Seq("):", ")-:", "):<", "D:<", ":@", ":-@", ">.<",
      "=[", "%-)", "3:(", "0-|")
    // devil-grins carry weak positive means (~0.5) — sign only
    val weakPositive = Seq("3:)", "*)", ">:)")
    positive.foreach(e =>
      assert(Sentiment.score(s"it went $e") > 0.2,
        s"'$e' must score positive"))
    negative.foreach(e =>
      assert(Sentiment.score(s"it went $e") < -0.2,
        s"'$e' must score negative"))
    weakPositive.foreach(e =>
      assert(Sentiment.score(s"it went $e") > 0.0,
        s"'$e' must score weakly positive"))
    // leet + acronym slang (alnum tokens, no strip interaction)
    assert(Sentiment.score("143 gr8 work") > 0.5)
    assert(Sentiment.score("fu this is fubar") < -0.5)
    // rule machinery composes over the new entries: caps emphasis and
    // negation act on the WORD tokens around an emoticon as usual
    assert(Sentiment.score("GREAT outcome (:") >
      Sentiment.score("great outcome (:"))
    assert(Sentiment.score("not gr8") < 0)
  }

  test("positive and negative sentences get the right sign") {
    assert(Sentiment.score("bitcoin made a great gain today") > 0.3)
    assert(Sentiment.score("terrible crash wiped out the market") < -0.3)
    assert(Sentiment.score("the protocol processes blocks") == 0.0) // neutral
  }

  test("negation flips polarity (VADER n_scalar -0.74)") {
    val pos = Sentiment.score("this is good")
    val neg = Sentiment.score("this is not good")
    assert(pos > 0 && neg < 0)
    assert(math.abs(neg) < math.abs(pos)) // damped, not mirrored
  }

  test("booster amplifies (VADER b_incr 0.293)") {
    assert(Sentiment.score("very good news") > Sentiment.score("good news"))
    assert(Sentiment.score("extremely bad loss") < Sentiment.score("bad loss"))
  }

  test("exclamation emphasis, capped at 4") {
    val base = Sentiment.score("great gain")
    val one = Sentiment.score("great gain!")
    val five = Sentiment.score("great gain!!!!!")
    val four = Sentiment.score("great gain!!!!")
    assert(one > base)
    assert(five == four) // cap
  }

  test("empty / null / blank content scores 0.0 (scrape-failure fallback)") {
    assert(Sentiment.score("") == 0.0)
    assert(Sentiment.score(null) == 0.0)
    assert(Sentiment.score("   ") == 0.0)
  }

  test("compound stays in [-1, 1] even for long rants") {
    val rant = Seq.fill(50)("terrible awful crash loss fear panic").mkString(" ")
    val s = Sentiment.score(rant)
    assert(s >= -1.0 && s <= 1.0 && s < -0.95)
  }

  test("UDF column form works in a query") {
    import spark.implicits._
    val out = Seq("great win", "bad crash").toDF("text")
      .select(Sentiment.sentiment($"text").as("s"))
      .as[Double].collect()
    assert(out(0) > 0 && out(1) < 0)
  }

  test("round-14: unicodeVariant tokenizes like NLTK — NBSP splits tokens " +
      "and non-Latin all-caps triggers the caps boost; ASCII mode and the " +
      "published golden vectors are unchanged") {
    val u = Sentiment.unicodeVariant
    // NBSP (U+00A0): Python text.split() separates, Java ASCII \s+ does not
    val nbsp = "great outcome"
    assert(Sentiment.score(nbsp) == 0.0,
      "ASCII mode must see one OOV token across the NBSP")
    assert(u.score(nbsp) > 0.3, "unicode mode must split and score 'great'")
    // NLTK's emphasis rule is DIFFERENTIAL: a document that is entirely
    // shouting gets no caps boost. "GREAT ПРИВЕТ" is all-caps under the
    // Unicode test (capDiff false, no emphasis — Python's view) but the
    // ASCII test cannot see the Cyrillic shout, calls the doc mixed-case,
    // and boosts GREAT.
    val ru = "GREAT ПРИВЕТ"
    assert(u.score(ru) < Sentiment.score(ru),
      "unicode mode must see the all-shouting doc and skip the caps boost")
    // isupper semantics pinned directly
    assert(VaderScorer.isAllCapsUnicode("ПРИВЕТ"))
    assert(VaderScorer.isAllCapsUnicode("ÉNORME"))
    assert(!VaderScorer.isAllCapsUnicode("Éa"))
    assert(!VaderScorer.isAllCapsUnicode("123")) // no cased chars
    assert(!VaderScorer.isAllCaps("ПРИВЕТ")) // the documented ASCII trade
    // the published golden vector scores identically under BOTH modes
    // (all-ASCII input): the variant is the same rule engine
    val golden = "VADER is VERY SMART, handsome, and FUNNY!!!"
    assert(u.score(golden) == Sentiment.score(golden))
    // ASCII path completely unaffected (same instance semantics)
    assert(Sentiment.score("not gr8") < 0 && u.score("not gr8") < 0)
  }
}
