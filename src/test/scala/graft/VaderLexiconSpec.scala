package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Sentiment, VaderData}

/** Invariants of the embedded lexicon resource (`graft/vader_lexicon.tsv`).
  * These are SEMANTIC guards, not style checks: a lexicon entry that
  * shadows a booster/negation word changes rule behavior at that token
  * slot (the scorer suppresses booster/negation handling when the
  * preceding word is in the lexicon), and a token listed twice would
  * silently last-wins-overwrite a transcribed valence.
  */
class VaderLexiconSpec extends AnyFunSuite {

  private def resourceLines(): Seq[String] = {
    val in = getClass.getClassLoader
      .getResourceAsStream(VaderData.LexiconResource)
    assert(in != null, s"${VaderData.LexiconResource} not on the classpath")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().toList finally src.close()
  }

  // The lexicon is one resource now, so its lines are the blocks: every
  // non-blank line must land in the map, and no two lines may share a token.
  test("merged lexicon covers >= 7000 entries and all blocks contribute") {
    assert(VaderData.lexicon.size == 7429,
      s"lexicon size ${VaderData.lexicon.size}")
    assert(resourceLines().count(_.trim.nonEmpty) == VaderData.lexicon.size)
  }

  test("no pair of lexicon blocks overlaps (no silent shadowing)") {
    val tokens = resourceLines().filter(_.trim.nonEmpty).map(_.split('\t')(0))
    val dups = tokens.groupBy(identity).collect {
      case (w, hits) if hits.size > 1 => w -> hits.size
    }
    assert(dups.isEmpty, s"tokens on more than one line: $dups")
  }

  test("sorted entries match the pinned SHA-256 digest") {
    // digest of the sorted `token\tvalence\n` lines (Double.toString
    // valences), pinned when the lexicon moved from code into the resource
    val body = VaderData.lexicon.toSeq.sorted
      .map { case (w, v) => s"$w\t$v\n" }.mkString
    val hex = java.security.MessageDigest.getInstance("SHA-256")
      .digest(body.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(hex ==
      "87c9c6dd7f1b921aded5f2d0421c4b8e084e719c6488d76360c5f512e7a57a7f")
  }

  test("no lexicon word is also a booster or negation (rule semantics)") {
    val lex = VaderData.lexicon.keySet
    val boosterHits = lex & VaderData.boosters.keySet
    val negHits = lex & VaderData.negations
    assert(boosterHits.isEmpty, s"lexicon∩boosters: $boosterHits")
    // "no" IS deliberately in the lexicon (VADER's special case, handled
    // explicitly in scoreing); everything else must stay disjoint
    assert((negHits - "no").isEmpty, s"lexicon∩negations: ${negHits - "no"}")
  }

  test("valences stay on the published [-4, 4] mean-rating scale") {
    val bad = VaderData.lexicon.filter { case (_, v) => v < -4.0 || v > 4.0 }
    assert(bad.isEmpty, s"out-of-scale valences: $bad")
  }

  test("widened words score with full rule machinery (booster + negation)") {
    // all four words are round-10 widenings — OOV before them
    assert(Sentiment.score("an outstanding achievement") > 0.5)
    assert(Sentiment.score("a catastrophic failure of oversight") < -0.5)
    assert(Sentiment.score("very disturbing allegations") <
      Sentiment.score("disturbing allegations")) // booster amplifies
    assert(Sentiment.score("not hopeless") > 0) // negation flips

    // second-widening entries through the same rules
    assert(Sentiment.score("a heartwarming recovery") > 0.5)
    assert(Sentiment.score("an absolutely devastating betrayal") < -0.5)
    assert(Sentiment.score("very misleading claims") <
      Sentiment.score("misleading claims"))
    assert(Sentiment.score("not hostile") > 0)

    // informal tokens + emoticons survive the
    // punctuation stripper (<=2-char rule keeps pure-punct tokens intact)
    assert(Sentiment.score("haha that was exemplary") > 0.5)
    assert(Sentiment.score("ugh what a dud") < -0.5)
    assert(Sentiment.score("miss you <3") > 0)
    assert(Sentiment.score("my team lost :-(") < 0)

    // f-z family entries through the same rules
    assert(Sentiment.score("a lucrative and seamless launch") > 0.5)
    assert(Sentiment.score("an utterly reprehensible scam") < -0.5)
    assert(Sentiment.score("extremely worrisome signals") <
      Sentiment.score("worrisome signals"))
    assert(Sentiment.score("not pointless") > 0)
  }

  test("lowercase keys only (scorer lowercases tokens before lookup)") {
    val nonLower = VaderData.lexicon.keys.filter(w => w != w.toLowerCase)
    assert(nonLower.isEmpty, s"non-lowercase keys: $nonLower")
  }

  test("sampled valences stay at their transcribed values (edit tripwire)") {
    // Pins across the word families, strongest-valence words included: a
    // future bulk edit (scale change, sign flip) trips immediately.
    val pins = Map(
      "awesome" -> 3.1, "awful" -> -2.0, "beautiful" -> 2.9,
      "best" -> 3.2, "kill" -> -3.7, "murder" -> -3.4,
      "free" -> 1.9, "freedom" -> 2.3, "happy" -> 2.7,
      "betrayal" -> -2.8, "heartwarming" -> 2.6, "lmao" -> 2.4,
      "wtf" -> -2.2, "reprehensible" -> -2.3, "lucrative" -> 1.9,
      "feast" -> 1.7, "cold" -> -0.9)
    pins.foreach { case (w, v) =>
      assert(VaderData.lexicon.get(w).contains(v),
        s"'$w': got ${VaderData.lexicon.get(w)}, pinned $v")
    }
  }
}
