package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.graft.CepExprImpl
import org.apache.spark.unsafe.types.UTF8String
import graft.cep.Alignment
import graft.streaming.StatefulCep
import graft.streaming.StatefulCep.CepEvent

/** Property-based window-assignment laws (SURVEY §5 test plan): the one
  * window-start function (`CepExprImpl.starts`, behind the
  * `window_starts` expression of the batch plans and called per event
  * by the stateful engine) must satisfy, for every (event time, width,
  * slide, anchor):
  *
  *  - membership: every assigned window half-open-contains the event;
  *  - tumbling uniqueness: exactly ONE window, aligned to the width;
  *  - sliding coverage: exactly W/S windows, consecutive, S apart —
  *    the reference's fan-out multiplicity (SlidingWindowAssigner);
  *  - global: no windows (the unbounded bucket is handled separately);
  *  - alignment: an anchored grid is the epoch grid translated.
  */
object WindowLawsSpec extends Properties("WindowLaws") {

  /** The covering starts, or null for the global (unbounded) window. */
  private def starts(wt: String, ms: Long, wMs: Long, sMs: Long,
      anchor: Long = 0L): Seq[Long] =
    Option(CepExprImpl.starts(UTF8String.fromString(wt), ms, wMs, sMs, anchor))
      .map(_.toSeq).orNull

  private val tsGen = Gen.choose(0L, 4102444800000L) // 1970..2100
  private val minutesGen = Gen.choose(1L, 10080L)    // 1 min .. 1 week

  property("tumbling: one aligned half-open window containing the event") =
    forAll(tsGen, minutesGen) { (ms: Long, wMin: Long) =>
      val w = wMin * 60000L
      val ws = starts("tumbling", ms, w, 0L)
      Prop(ws.size == 1) :| "exactly one window" &&
        Prop(ws.head % w == 0) :| "width-aligned" &&
        Prop(ws.head <= ms && ms < ws.head + w) :| "half-open membership"
    }

  private val slideGen = for {
    s <- Gen.choose(1L, 120L)
    w <- Gen.choose(1L, 16L * s) // divisibility NOT assumed; w < s allowed
  } yield (s, w)

  property("sliding: exactly the slide-aligned covering windows (w % s and w < s free)") =
    forAll(tsGen, slideGen) { (ms: Long, p: (Long, Long)) =>
      val (s, w) = (p._1 * 60000L, p._2 * 60000L)
      val ws = starts("sliding", ms, w, s)
      // Ground truth, spelled the obvious way: walk slide-aligned starts
      // down from the event's slide bucket while they still cover it.
      val expected = Iterator.iterate(Math.floorDiv(ms, s) * s)(_ - s)
        .takeWhile(st => st > ms - w).toSeq
      Prop(ws == expected) :| s"exact covering set (got $ws want $expected)" &&
        Prop(ws.forall(st => st <= ms && ms < st + w)) :| "membership" &&
        Prop(ws.forall(st => math.floorMod(st, s) == 0)) :| "slide-aligned" &&
        Prop(ws.size >= (w / s).toInt &&
          ws.size <= ((w + s - 1) / s).toInt) :| "floor/ceil multiplicity"
    }

  property("global: no arithmetic windows") =
    forAll(tsGen) { (ms: Long) =>
      // The core assigns no start; the expression emits the one null
      // start that marks the unbounded bucket.
      val expr = CepExprImpl.windowStarts(UTF8String.fromString("global"), ms, 0L, 0L, 0L)
      Prop(starts("global", ms, 0L, 0L) == null) :| "no starts" &&
        Prop(expr.numElements() == 1 && expr.isNullAt(0)) :| "one null start"
    }

  private val anchorGen = Gen.choose(-4102444800000L, 4102444800000L)

  property("anchored grids are shifted epoch grids (alignment is a pure translation)") =
    forAll(tsGen, slideGen, anchorGen) { (ms: Long, p: (Long, Long), anchor: Long) =>
      val (s, w) = (p._1 * 60000L, p._2 * 60000L)
      def shifted(wt: String): Seq[Long] =
        starts(wt, ms - anchor, w, s).map(_ + anchor)
      Prop(starts("sliding", ms, w, s, anchor) == shifted("sliding")) :| "sliding" &&
        Prop(starts("tumbling", ms, w, s, anchor) == shifted("tumbling")) :| "tumbling"
    }

  property("native WindowStartsExpr: non-positive width/slide yields no windows, not a throw") =
    forAll(tsGen, Gen.choose(-5L, 0L), Gen.choose(-5L, 0L), anchorGen) {
      (ms: Long, w: Long, s: Long, anchor: Long) =>
        // A rule frame built directly (bypassing Parsers.parseRules'
        // positivity filter) must degrade to zero covering windows, the
        // old declarative spelling's behavior — never an
        // ArithmeticException inside generated code.
        def n(wt: String, wMs: Long, sMs: Long): Int =
          CepExprImpl.windowStarts(UTF8String.fromString(wt), ms, wMs, sMs, anchor)
            .numElements()
        Prop(n("tumbling", w, 60000L) == 0) :| "tumbling w<=0" &&
          Prop(n("sliding", w, s) == 0) :| "sliding w<=0, s<=0" &&
          Prop(n("sliding", 60000L, s) == 0) :| "sliding s<=0"
    }

  property("StatefulCep.foldEvents opens exactly the native starts on the key's grid (both alignments)") =
    forAll(tsGen, slideGen, Gen.choose(0L, 86400000L)) { (ms: Long, p: (Long, Long), gap: Long) =>
      val (s, w) = (p._1 * 60000L, p._2 * 60000L)
      def ev(t: Long, wt: String) = CepEvent(1, "g", new java.sql.Timestamp(t), t, 1.0,
        wt, w, s, "SUM", ">", 0.0)
      def check(wt: String, align: Alignment): Prop = {
        // Two events on one key: the second lands on the grid the first set.
        val st = StatefulCep.foldEvents(null,
          Iterator(ev(ms, wt), ev(ms + gap, wt)), Long.MinValue, align)
        val expectedAnchor = align match {
          case Alignment.Epoch => 0L
          case Alignment.FirstEvent => if (wt == "sliding") ms - w else ms
        }
        val expected = (starts(wt, ms, w, s, expectedAnchor) ++
          starts(wt, ms + gap, w, s, expectedAnchor)).toSet
        Prop(st.anchor == expectedAnchor) :| s"$wt $align anchor" &&
          Prop(st.windows.map(_.ws_ms).toSet == expected) :| s"$wt $align starts"
      }
      check("tumbling", Alignment.Epoch) && check("sliding", Alignment.Epoch) &&
        check("tumbling", Alignment.FirstEvent) && check("sliding", Alignment.FirstEvent)
    }
}
