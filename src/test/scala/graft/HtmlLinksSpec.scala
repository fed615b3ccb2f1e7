package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Warc

/** The HTML LINK layer of the WARC front door: html_links outlink
  * extraction (adversarial tag-stream cases), declared-canonical and
  * meta-robots extraction, the outlink domain graph, fixed-point
  * PageRank (hand-computed exact integers), and declared-canonical
  * dedup. */
class HtmlLinksSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def links(html: String): Seq[(String, String, String)] =
    Seq(html).toDF("html")
      .select(explode(graft.functions.html_links(col("html"))).as("l"))
      .select("l.href", "l.rel", "l.anchor")
      .as[(String, String, String)].collect().toSeq

  test("html_links: basic extraction, document order, rel lowercased") {
    val got = links(
      """<html><body>
        |<a href="/">Home</a>
        |<p>See <a href="https://x.example.com/p" rel="NoFollow Sponsored">the  page</a> now.</p>
        |<a href='/single'>single quotes</a>
        |</body></html>""".stripMargin)
    assert(got == Seq(
      ("/", "", "Home"),
      ("https://x.example.com/p", "nofollow sponsored", "the page"),
      ("/single", "", "single quotes")))
  }

  test("html_links: entities decode in href and anchor; unquoted href keeps trailing slash") {
    val got = links(
      """<a href="/s?a=1&amp;b=2">Tom &amp; Jerry &#233;</a>
        |<A HREF=http://ex.org/path/>upper, unquoted</A>""".stripMargin)
    assert(got == Seq(
      ("/s?a=1&b=2", "", "Tom & Jerry é"),
      ("http://ex.org/path/", "", "upper, unquoted")))
  }

  test("html_links: script/comment/CDATA traps are not links; quoted '>' does not close the tag") {
    val got = links(
      """<script>var s = "<a href='/trap1'>x</a>";</script>
        |<!-- <a href="/trap2">y</a> -->
        |<![CDATA[<a href="/trap3">z</a>]]>
        |<a title="a > b" href="/real">kept</a>""".stripMargin)
    assert(got == Seq(("/real", "", "kept")))
  }

  test("html_links: nested <a> implicitly closes; EOF-open anchor emits; no-href anchors emit nothing") {
    val got = links(
      """<a href="/one">first <a href="/two">second</a> tail
        |<a name="top">named anchor</a>
        |<a href="/eof">still open at eof""".stripMargin)
    assert(got == Seq(
      ("/one", "", "first"),
      ("/two", "", "second"),
      ("/eof", "", "still open at eof")))
  }

  test("html_links: nested inline/block tags contribute anchor text; whitespace collapses") {
    val got = links(
      "<a href=\"/x\"> <b>bold</b>\t and <span>inline</span>\n text </a>")
    assert(got == Seq(("/x", "", "bold and inline text")))
  }

  test("html_links: first href wins on duplicate attributes; empty href emits") {
    val got = links("""<a href="/first" href="/second">dup</a><a href="">self</a>""")
    assert(got == Seq(("/first", "", "dup"), ("", "", "self")))
  }

  test("html_links: self-closing skip tags do not swallow the rest of the document") {
    // <iframe/> / <svg .../> have no content to skip — treating them
    // as open skip tags would discard every link to EOF.
    val got = links(
      """<iframe src="ad"/><a href="/after-iframe">kept</a>
        |<svg width="10"/><a href="/after-svg">also kept</a>
        |<script>var x = 1;</script><a href="/after-script">still kept</a>""".stripMargin)
    assert(got.map(_._1) == Seq("/after-iframe", "/after-svg", "/after-script"))
  }

  test("html_links: '/' ending an unquoted attribute value is NOT self-closing (ADVICE r12)") {
    // Per the HTML5 unquoted grammar, in <iframe src=/ads/> the final
    // '/' belongs to the value /ads/ — the tag is OPEN, its fallback
    // content must be skipped. A standalone '/' (src=x /) still
    // self-closes.
    val got = links(
      """<iframe src=/ads/><a href="/inside-iframe">hidden</a></iframe>
        |<a href="/after-close">kept</a>
        |<iframe src=x /><a href="/after-standalone">also kept</a>""".stripMargin)
    assert(got.map(_._1) == Seq("/after-close", "/after-standalone"))
  }

  test("linkTargetHost: whitespace-padded absolute hrefs resolve externally; non-hierarchical schemes resolve to no host") {
    val pages = Seq(
      (1L, "http://www.site.example.com/a",
        """<a href=" https://partner.other.org/x">padded absolute</a>
          |<a href="mailto:team@example.com">mail</a>
          |<a href="javascript:void(0)">js</a>
          |<a href="tel:+15551234567">tel</a>""".stripMargin))
      .toDF("doc_id", "url", "html")
    val edges = graft.ops.Domains.outlinkDomainEdges(pages, col("url"),
        col("html"), includeInternal = true)
      .as[(String, String, Long)].collect().toSeq
    // The padded absolute link is the ONLY edge: external (not
    // misread as page-relative), and the mailto/javascript/tel hrefs
    // yield null hosts, never fabricated self-edges.
    assert(edges == Seq(("example.com", "other.org", 1L)))
  }

  test("htmlBaseHref: first tag wins, both quote styles, entity decode, data-href never matches") {
    def base(html: String): Option[String] =
      Seq(html).toDF("html")
        .select(Warc.htmlBaseHref(col("html")).as("b"))
        .collect().headOption.flatMap(r => Option(r.getString(0)))
    assert(base("""<base href="https://cdn.example.org/dir/">""")
      .contains("https://cdn.example.org/dir/"))
    // target attribute before href; single quotes; entity decode.
    assert(base("""<base target='_blank' href='/en/?a=1&amp;b=2'>""")
      .contains("/en/?a=1&b=2"))
    // HTML spec: only the FIRST base element counts.
    assert(base(
      """<base href="https://first.example.org/">
        |<base href="https://second.example.org/">""".stripMargin)
      .contains("https://first.example.org/"))
    // A look-alike attribute or tag never matches.
    assert(base("""<base data-href="https://no.example.org/">""").isEmpty)
    assert(base("""<basefont href="https://no.example.org/">""").isEmpty)
    assert(base("<p>no base here</p>").isEmpty)
    // Link-graph poisoning defense: a base inside a comment or a
    // script string must NOT override resolution (one planted string
    // would redirect every relative link on the page), and a real
    // base after the trap still wins.
    assert(base("""<!-- <base href="https://attacker.example/"> -->""")
      .isEmpty)
    assert(base("<script>document.write('<base href=\"https://" +
      "attacker.example/\">');</script>").isEmpty)
    assert(base(
      """<!-- <base href="https://attacker.example/"> -->
        |<base href="https://real.example.org/">""".stripMargin)
      .contains("https://real.example.org/"))
  }

  test("outlinkDomainEdges honors <base href>: absolute base flips relative links external; path-only base does not; absolute hrefs unaffected") {
    val pages = Seq(
      // Absolute base: both relative links resolve to the base host;
      // the absolute link ignores the base.
      (1L, "http://www.site.example.com/a",
        """<head><base href="https://static.cdnhost.net/dir/"></head>
          |<a href="rel/x">r</a><a href="/root">t</a>
          |<a href="https://news.bbc.co.uk/z">abs</a>""".stripMargin),
      // Path-only base: rebases the path, cannot change the host —
      // the relative link stays internal and vanishes.
      (2L, "http://www.site.example.com/b",
        """<head><base href="/en/"></head>
          |<a href="rel/y">r</a>
          |<a href="https://news.bbc.co.uk/w">abs</a>""".stripMargin),
      // Protocol-relative base resolves to its own host too.
      (3L, "http://www.site.example.com/c",
        """<head><base href="//img.assets.org/i/"></head>
          |<a href="pic.png">p</a>""".stripMargin))
      .toDF("doc_id", "url", "html")
    val edges = graft.ops.Domains.outlinkDomainEdges(pages, col("url"),
        col("html"))
      .orderBy("src_domain", "dst_domain")
      .as[(String, String, Long)].collect().toSeq
    assert(edges == Seq(
      ("example.com", "assets.org", 1L),
      ("example.com", "bbc.co.uk", 2L),
      ("example.com", "cdnhost.net", 2L)))
    // honorBaseHref = false restores page-host resolution: only the
    // absolute links survive the internal-edge drop.
    val off = graft.ops.Domains.outlinkDomainEdges(pages, col("url"),
        col("html"), honorBaseHref = false)
      .orderBy("src_domain", "dst_domain")
      .as[(String, String, Long)].collect().toSeq
    assert(off == Seq(("example.com", "bbc.co.uk", 2L)))
  }

  test("htmlCanonicalUrl: the first canonical tag wins across mixed attribute orders") {
    def canon(html: String): Option[String] =
      Seq(html).toDF("html")
        .select(Warc.htmlCanonicalUrl(col("html")).as("c"))
        .collect().headOption.flatMap(r => Option(r.getString(0)))
    // href-first tag BEFORE a rel-first tag: the earlier tag must win
    // (two coalesced regexps would let the rel-first pattern beat it).
    assert(canon(
      """<link href="https://a.example.com/x" rel="canonical">
        |<link rel="canonical" href="https://b.example.com/y">""".stripMargin)
      .contains("https://a.example.com/x"))
    assert(canon(
      """<link rel="canonical" href="https://b.example.com/y">
        |<link href="https://a.example.com/x" rel="canonical">""".stripMargin)
      .contains("https://b.example.com/y"))
  }

  test("htmlCanonicalUrl: both attribute orders, quote styles, entity decode, first tag wins") {
    def canon(html: String): Option[String] =
      Seq(html).toDF("html")
        .select(Warc.htmlCanonicalUrl(col("html")).as("c"))
        .collect().headOption.flatMap(r => Option(r.getString(0)))
    assert(canon("""<link rel="canonical" href="https://ex.com/a?x=1&amp;y=2">""")
      .contains("https://ex.com/a?x=1&y=2"))
    assert(canon("""<link href='https://ex.com/b' rel='canonical'>""")
      .contains("https://ex.com/b"))
    assert(canon("""<link rel=canonical href=https://ex.com/c>""")
      .contains("https://ex.com/c"))
    // A stylesheet link before the canonical must not win, and the
    // regexp must not stitch attributes across tag boundaries.
    assert(canon(
      """<link rel="stylesheet" href="/style.css">
        |<link rel="canonical" href="https://ex.com/d">""".stripMargin)
      .contains("https://ex.com/d"))
    assert(canon("""<link rel="canonical-ish" href="/nope">""").isEmpty)
    assert(canon("""<link data-rel="canonical" data-href="/nope">""").isEmpty)
    assert(canon("<p>no links at all</p>").isEmpty)
  }

  test("htmlMetaRobots + hasNoindex: both orders, case folding, token matching") {
    val df = Seq(
      (1L, """<meta name="robots" content="NOINDEX, nofollow">"""),
      (2L, """<meta content="index, follow" name="robots">"""),
      (3L, """<meta name="viewport" content="width=device-width">"""),
      (4L, """<meta name="robots" content="nofollow">"""),
      (5L, """<p>none</p>""")).toDF("id", "html")
    val got = df.select(col("id"), Warc.htmlMetaRobots(col("html")).as("r"),
        Warc.hasNoindex(col("html")).as("ni"))
      .orderBy("id").as[(Long, Option[String], Boolean)].collect().toSeq
    assert(got == Seq(
      (1L, Some("noindex, nofollow"), true),
      (2L, Some("index, follow"), false),
      (3L, None, false),
      (4L, Some("nofollow"), false),
      (5L, None, false)))
  }

  test("outlinkDomainEdges: relative links stay on-site, protocol-relative resolve, nofollow skippable") {
    val pages = Seq(
      (1L, "http://www.site1.example.com/a",
        """<a href="https://news.bbc.co.uk/x">bbc</a>
          |<a href="/about">internal</a>
          |<a href="//cdn.other.org/l">cdn</a>
          |<a href="//cdn.other.org/m">cdn again</a>
          |<a href="https://spam.example.net/" rel="nofollow sponsored">spam</a>""".stripMargin),
      (2L, "not a url", """<a href="https://news.bbc.co.uk/y">unparseable src</a>"""))
      .toDF("doc_id", "url", "html")
    def edges(includeInternal: Boolean, skipNofollow: Boolean) =
      graft.ops.Domains.outlinkDomainEdges(pages, col("url"), col("html"),
          includeInternal = includeInternal, skipNofollow = skipNofollow)
        .orderBy("src_domain", "dst_domain")
        .as[(String, String, Long)].collect().toSeq
    assert(edges(false, false) == Seq(
      ("example.com", "bbc.co.uk", 1L),
      ("example.com", "example.net", 1L),
      ("example.com", "other.org", 2L)))
    assert(edges(true, false).contains(("example.com", "example.com", 1L)))
    assert(edges(false, true) == Seq(
      ("example.com", "bbc.co.uk", 1L),
      ("example.com", "other.org", 2L)))
  }

  test("pageRankFixedPoint: hand-computed exact integers on A->B, A->C, B->C, C->A") {
    val edges = Seq(("a.com", "b.com"), ("a.com", "c.com"),
      ("b.com", "c.com"), ("c.com", "a.com"))
      .toDF("src_domain", "dst_domain")
    // scale 1e6, damping 85/100, base = 150000. By hand:
    // iter1: A = 150000 + 850000 = 1000000
    //        B = 150000 + 425000 =  575000
    //        C = 150000 + 425000 + 850000 = 1425000
    // iter2: A = 150000 + (1425000*85) div 100      = 1361250
    //        B = 150000 + (1000000*85) div 200      =  575000
    //        C = 150000 + 425000 + (575000*85) div 100 = 1063750
    val r1 = graft.ops.Domains.pageRankFixedPoint(edges, iterations = 1,
      scale = 1000000L).as[(String, Long)].collect().toMap
    assert(r1 == Map("a.com" -> 1000000L, "b.com" -> 575000L,
      "c.com" -> 1425000L))
    val r2 = graft.ops.Domains.pageRankFixedPoint(edges, iterations = 2,
      scale = 1000000L).as[(String, Long)].collect().toMap
    assert(r2 == Map("a.com" -> 1361250L, "b.com" -> 575000L,
      "c.com" -> 1063750L))
  }

  test("pageRankFixedPoint: dangling node keeps teleport share only; duplicate edges collapse") {
    val edges = Seq(("a.com", "d.com"), ("a.com", "d.com"))
      .toDF("src_domain", "dst_domain")
    val r = graft.ops.Domains.pageRankFixedPoint(edges, iterations = 1,
      scale = 1000000L).as[(String, Long)].collect().toMap
    // One distinct edge: a's whole damped mass flows to d once.
    assert(r == Map("a.com" -> 150000L, "d.com" -> 1000000L))
  }

  test("pageRankFixedPoint: redistributeDangling conserves mass with exact integers (VERDICT r12 #7)") {
    val edges = Seq(("a.com", "d.com")).toDF("src_domain", "dst_domain")
    def run(redistribute: Boolean, iters: Int = 1) =
      graft.ops.Domains.pageRankFixedPoint(edges, iterations = iters,
        scale = 1000000L, redistributeDangling = redistribute)
        .as[(String, Long)].collect().toMap
    // Hand-computed, N = 2, r0 = 1e6 each, damp 85/100:
    // dangling d holds 1e6 → share = (1e6·85) div (100·2) = 425000.
    // a: base 150000 + share; d: base + a's damped mass 850000 + share.
    assert(run(redistribute = true) ==
      Map("a.com" -> 575000L, "d.com" -> 1425000L))
    // Mass is conserved exactly (Σ = N·scale); evaporation loses it.
    assert(run(redistribute = true).values.sum == 2000000L)
    assert(run(redistribute = false).values.sum == 1150000L)
    // Second iteration redistributes the NEW dangling mass:
    // d now holds 1425000 → share = (1425000·85) div 200 = 605625.
    // a: 150000 + 605625 = 755625;
    // d: 150000 + (575000·85) div 100 + 605625 = 1244375.
    assert(run(redistribute = true, iters = 2) ==
      Map("a.com" -> 755625L, "d.com" -> 1244375L))
  }

  test("pageRankFixedPoint: overflow guard trips on planet-scale scale and recommends a safe one") {
    val edges = Seq(("a.com", "b.com")).toDF("src_domain", "dst_domain")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Domains.pageRankFixedPoint(edges, iterations = 1,
        scale = Long.MaxValue / 10)
    }
    assert(e.getMessage.contains("overflow"))
    assert(e.getMessage.contains("scale = 0 auto-derives"))
  }

  test("pageRankFixedPoint: default scale auto-derives from node count (ADVICE r12)") {
    // Small graphs land on the 1e12 cap (same ranks as the old fixed
    // default); the point is that the default can no longer refuse a
    // large graph — the derived bound always fits the guard.
    val edges = Seq(("a.com", "b.com"), ("a.com", "c.com"),
      ("b.com", "c.com"), ("c.com", "a.com"))
      .toDF("src_domain", "dst_domain")
    val auto = graft.ops.Domains.pageRankFixedPoint(edges, iterations = 1)
      .as[(String, Long)].collect().toMap
    val explicit = graft.ops.Domains.pageRankFixedPoint(edges,
      iterations = 1, scale = 1000000000000L)
      .as[(String, Long)].collect().toMap
    assert(auto == explicit)
  }

  test("pageRankFixedPoint: the driver fast path equals the distributed loop bit-for-bit") {
    // r15: graphs at or under maxDriverEdges iterate on the driver —
    // the same exact integer recurrence, so ranks must be identical.
    // Randomized graph with dangling nodes, plus a self-loop, a
    // duplicate edge and null endpoints (which neither path may rank);
    // both dangling policies; maxDriverEdges = 0 forces the
    // distributed loop.
    val rnd = new scala.util.Random(4242)
    val nodes = (0 until 24).map(i => s"d$i.com")
    val edges = (Seq.fill(70)(
        (nodes(rnd.nextInt(18)), nodes(rnd.nextInt(24))))
      .filter { case (a, b) => a != b } ++ Seq(
        ("d0.com", "d0.com"), ("d1.com", "d2.com"), ("d1.com", "d2.com"),
        (null, "d3.com"), ("d4.com", null), (null, null)))
      .toDF("src_domain", "dst_domain")
    for (redistribute <- Seq(false, true); iters <- Seq(1, 3)) {
      val fast = graft.ops.Domains.pageRankFixedPoint(edges,
        iterations = iters, redistributeDangling = redistribute)
        .as[(String, Long)].collect().toMap
      val dist = graft.ops.Domains.pageRankFixedPoint(edges,
        iterations = iters, redistributeDangling = redistribute,
        maxDriverEdges = 0L)
        .as[(String, Long)].collect().toMap
      assert(fast == dist,
        s"driver/distributed divergence at redistribute=$redistribute iters=$iters")
      assert(!fast.contains(null))
    }
  }

  test("anchorTermsByDomain: counts, top-k cutoff, deterministic tie-break, internal drop, nofollow policy") {
    val pages = Seq((
      "http://www.src-site.com/a",
      """<a href="http://t1-ex.org/x">great casino deal</a>
        |<a href="http://t1-ex.org/y">casino bonus</a>
        |<a href="http://t1-ex.org/z">casino casino casino</a>
        |<a href="/internal">home</a>
        |<a href="http://www.src-site.com/z">self</a>
        |<a href="http://t2-ex.net/s" rel="nofollow">spamword</a>"""
        .stripMargin))
      .toDF("url", "html")
    val got = graft.ops.Domains.anchorTermsByDomain(
        pages, col("url"), col("html"), k = 2)
      .as[(String, String, Long, Long)].collect()
      .sortBy(r => (r._1, r._4)).toSeq
    // t1-ex.org: casino appears in 3 LINKS and counts once per link —
    // the keyword-stuffed third anchor ("casino casino casino")
    // contributes ONE, not three (n_links counts links, not token
    // repetitions); the 1-count tie (bonus/deal/great) breaks
    // alphabetically -> bonus at rank 2; k=2 cuts the rest. Internal
    // links (page-relative and same-registrable) dropped; nofollow
    // counts by default.
    assert(got == Seq(
      ("t1-ex.org", "casino", 3L, 1L),
      ("t1-ex.org", "bonus", 1L, 2L),
      ("t2-ex.net", "spamword", 1L, 1L)))
    val noFollow = graft.ops.Domains.anchorTermsByDomain(
        pages, col("url"), col("html"), k = 2, skipNofollow = true)
      .select("domain").as[String].collect().toSet
    assert(noFollow == Set("t1-ex.org"))
  }

  test("mineTrackingParams: invariant params mined per domain, support threshold, content-bearing params rejected; safeParamNames is cross-domain conservative") {
    val rows = Seq(
      // d1: utm is tracking (content invariant across 2 evidence
      // groups); page is content-bearing.
      ("http://a.d1.com/p/1?utm=x&page=0", "A0"),
      ("http://a.d1.com/p/1?utm=y&page=0", "A0"),
      ("http://a.d1.com/p/1?utm=x&page=1", "A1"),
      ("http://a.d1.com/p/1?utm=y&page=1", "A1"),
      // d2: the SAME name utm changes content here (one evidence
      // group, two fingerprints).
      ("http://b.d2.com/q?utm=x", "B0"),
      ("http://b.d2.com/q?utm=y", "B1"),
      // d2: sid is invariant with 2 evidence groups; x is bearing.
      ("http://b.d2.com/s?sid=1&x=0", "D0"),
      ("http://b.d2.com/s?sid=2&x=0", "D0"),
      ("http://b.d2.com/s?sid=1&x=1", "D1"),
      ("http://b.d2.com/s?sid=2&x=1", "D1"),
      // d1: a single-valued param — zero evidence groups, so
      // vacuously invariant but NOT safe (support threshold).
      ("http://a.d1.com/r?once=1", "C0"))
      .toDF("url", "fp")
    val minedDf = graft.ops.Domains.mineTrackingParams(
      rows, col("url"), col("fp"))
    val mined = minedDf
      .as[(String, String, Long, Boolean, Boolean)].collect()
      .map(t => (t._1, t._2) -> ((t._3, t._4, t._5))).toMap
    assert(mined(("d1.com", "utm")) == ((2L, true, true)))
    assert(mined(("d1.com", "page")) == ((2L, false, false)))
    assert(mined(("d2.com", "utm")) == ((1L, false, false)))
    assert(mined(("d2.com", "sid")) == ((2L, true, true)))
    assert(mined(("d2.com", "x")) == ((2L, false, false)))
    assert(mined(("d1.com", "once")) == ((0L, true, false)))
    // utm is safe on d1 but content-bearing on d2 — a global drop
    // list must exclude it; sid is safe everywhere it appears.
    assert(graft.ops.Domains.safeParamNames(minedDf) == Seq("sid"))
  }

  test("dedupByDeclaredCanonical: absolute declared canonical merges; relative falls back to page URL") {
    val docs = Seq(
      (1L, "https://ex.com/article", "<p>original</p>"),
      (2L, "https://ex.com/article?utm_source=feed",
        """<link rel="canonical" href="https://ex.com/article">"""),
      (3L, "https://mirror.ex.com/article-copy",
        """<link rel="canonical" href="https://ex.com/article">"""),
      (4L, "https://ex.com/other",
        """<link rel="canonical" href="relative/path">"""))
      .toDF("doc_id", "url", "html")
    val kept = graft.ops.Domains.dedupByDeclaredCanonical(
        docs, col("url"), col("html"), col("doc_id"))
      .select("doc_id").as[Long].collect().toSeq.sorted
    // 1, 2 (string-canonicalized same URL after utm strip) and 3
    // (declared canonical) all merge to https://ex.com/article -> keep 1.
    // 4's relative canonical falls back to its own URL -> kept.
    assert(kept == Seq(1L, 4L))
  }

  test("domainComponents: string-keyed label propagation converges on a long chain") {
    // An 8-domain chain needs several propagation rounds (labels move
    // one hop per round before path-halving kicks in) — pins the
    // string-keyed distributed path end to end.
    val chain = (0 until 7).map(i => (s"d$i.com", s"d${i + 1}.com"))
    val edges = (chain :+ (("z.org", "z.org")))
      .toDF("src_domain", "dst_domain")
    val got = graft.ops.Domains.domainComponents(edges)
      .as[(String, String)].collect().toMap
    assert((0 to 7).forall(i => got(s"d$i.com") == "d0.com"))
    assert(got("z.org") == "z.org")
  }

  test("urlSpamScore: null URL scores 0 and survives filterByUrlSpam") {
    val docs = Seq((1L, "https://ok.example.com/x"),
      (2L, "https://casino.example.biz/"), (3L, null))
      .toDF("doc_id", "url")
    val kept = graft.ops.Domains.filterByUrlSpam(docs, col("url"))
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(kept == Seq(1L, 3L))
  }

  test("html_links registered for SQL use") {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val got = spark.sql(
      """SELECT inline(html_links('<a href="/x" rel="ME">t</a>'))""")
      .as[(String, String, String)].collect().toSeq
    assert(got == Seq(("/x", "me", "t")))
  }
}
