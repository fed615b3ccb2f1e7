package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the same seed gives the same inputs, another seed other inputs") {
    assert(Gen.events(7L, 0L, 2000).toSeq == Gen.events(7L, 0L, 2000).toSeq)
    assert(Gen.events(7L, 0L, 2000).map(Gen.jsonLine).toSeq ==
      Gen.events(7L, 0L, 2000).map(Gen.jsonLine).toSeq)
    assert(Gen.events(7L, 0L, 2000).toSeq != Gen.events(8L, 0L, 2000).toSeq)
    assert(Gen.alertsBook(7L) == Gen.alertsBook(7L))
    assert(Gen.backfillBook(7L) == Gen.backfillBook(7L))
    assert(Gen.backfillBook(7L) != Gen.backfillBook(8L))
    assert(Gen.corpus(7L, 300) == Gen.corpus(7L, 300))
    assert(Gen.corpus(7L, 300).docs != Gen.corpus(8L, 300).docs)
  }

  test("an event depends only on the seed and its index") {
    val whole = Gen.events(3L, 0L, 100)
    assert(Gen.events(3L, 40L, 60).toSeq == whole.drop(40).toSeq)
  }

  test("the upsert schedule replays for a seed and keeps the book size") {
    def replay(seed: Long): Seq[Seq[graft.cep.Metrics.RuleRow]] = {
      val book = new graft.streaming.RuleBook
      book.applyChanges(Gen.alertsBook(seed))
      (1 to 20).map { step =>
        val u = Gen.upsert(seed, step, book.snapshot)
        book.applyChanges(u)
        assert(book.activeRules.size == 8)
        u
      }
    }
    assert(replay(5L) == replay(5L))
  }

  test("the stream's shares: ~1% malformed, ~1% late, none in the clean prefix") {
    val evs = Gen.events(11L, 0L, Gen.CleanPrefix.toInt + 20000)
    val (clean, rest) = evs.splitAt(Gen.CleanPrefix.toInt)
    assert(clean.forall(_.kind == Gen.Ok))
    val malformed = rest.count(_.kind == Gen.Malformed)
    val late = rest.filter(_.kind == Gen.Late)
    assert(malformed > 100 && malformed < 300)
    assert(late.length > 100 && late.length < 300)
    assert(late.forall(e => e.evMs == Gen.T0 + e.idx * Gen.StepMs - Gen.LateByMs))
  }

  test("malformed lines take each rejection path; good lines are complete objects") {
    val evs = Gen.events(11L, Gen.CleanPrefix, 5000)
    val bad = evs.filter(_.kind == Gen.Malformed).map(e => e.idx % 3 -> Gen.jsonLine(e)).toMap
    assert(!bad(0).endsWith("}"))
    assert(bad(1).matches(""".*"cpu":[0-9]+\.5.*"""))
    assert(!bad(2).contains("eventTime"))
    evs.filter(_.kind != Gen.Malformed).map(Gen.jsonLine).foreach { l =>
      assert(l.startsWith("{\"eventTime\":") && l.endsWith("}"))
    }
  }

  test("the corpus plants copies, contamination and short documents") {
    val c = Gen.corpus(2L, 2000)
    assert(c.docs.map(_.doc_id) == (0L until 2000L))
    val text = c.docs.map(d => d.doc_id -> d.text).toMap
    assert(c.copies.nonEmpty && c.copies.forall { case (i, src) => src < i && text(i) == text(src) })
    assert(c.contaminated.nonEmpty &&
      c.contaminated.forall(i => c.evalIds.exists(e => text(i).endsWith(text(e)))))
    assert(c.short.nonEmpty && c.short.forall(i => text(i).split(" ").length < 25))
  }
}
