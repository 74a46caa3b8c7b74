package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {

  test("token counts: whitespace and BPE-ish") {
    import spark.implicits._
    val r = Seq("Hello, world! 42 tokens-here").toDF("t")
      .select(TextAnalysis.tokenCount(col("t")).as("ws"),
        TextAnalysis.bpeishTokenCount(col("t")).as("bp"))
      .head()
    assert(r.getAs[Int]("ws") === 4)
    // Hello , world ! 42 tokens - here => 8
    assert(r.getAs[Int]("bp") === 8)
  }

  test("langId picks the language with the highest marker hit rate") {
    import spark.implicits._
    val out = Seq(
      ("the cat sat on the mat and it was happy", "en"),
      ("el gato es un animal y la casa es grande", "es"),
      ("le chat est dans la maison et il est content", "fr"),
      ("der hund ist ein tier und die katze ist klein", "de"),
      ("zzz qqq xxx", "und")
    ).toDF("t", "expected")
      .select(TextAnalysis.langId(col("t")).as("got"), col("expected"))
      .collect()
    out.foreach(r => assert(r.getString(0) === r.getString(1),
      s"got ${r.getString(0)} want ${r.getString(1)}"))
  }

  test("quality features and score") {
    import spark.implicits._
    val good = "the quick brown fox jumps over the lazy dog and runs to the river"
    val bad = "@@@@ #### $$$$ %%%%"
    val out = TextAnalysis.withQuality(
      Seq((1, good), (2, bad)).toDF("id", "text"), "text")
      .orderBy("id").collect()
    assert(out(0).getAs[Double]("quality_score") === 1.0)
    assert(out(1).getAs[Double]("quality_score") < 0.5)
    assert(out(0).getAs[Double]("stopword_ratio") > 0.2)
    assert(out(1).getAs[Double]("punct_ratio") > 0.5)
  }

  test("gopherRules: each rule decides on its own axis, integer-exact") {
    import spark.implicits._
    val fifty = Seq.fill(4)("the cat and the dog have to be with that " +
      "other friend of the group today").mkString(" ") // 64 words, all rules pass
    val docs = Seq(
      (1L, fifty),
      (2L, "the of too short"),                                // G1 word count
      (3L, Seq.fill(60)("aa").mkString(" ") + " the of"),      // G2 mean len < 3
      (4L, Seq.fill(30)("#").mkString(" ") + " " + fifty),     // G3 symbol ratio
      (5L, (1 to 10).map(i => s"- item $i of the set with that thing")
        .mkString("\n")),                                      // G4 all bullets
      (6L, (1 to 10).map(_ => "this line of the story trails off...")
        .mkString("\n")),                                      // G5 ellipsis lines
      (7L, Seq.fill(60)("12345").mkString(" ") + " the of"),   // G6 alpha share
      (8L, Seq.fill(60)("zebra").mkString(" "))                // G7 required words
    ).toDF("doc_id", "text")
    val got = operators.TextAnalysis.gopherRules(docs, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Boolean]("pass"))
    assert(!got(2L).getAs[Boolean]("ok_word_count"))
    assert(!got(3L).getAs[Boolean]("ok_mean_word_len"))
    assert(!got(4L).getAs[Boolean]("ok_symbol_ratio"))
    assert(!got(5L).getAs[Boolean]("ok_bullets"))
    assert(!got(6L).getAs[Boolean]("ok_ellipsis_lines"))
    assert(!got(7L).getAs[Boolean]("ok_alpha_words"))
    assert(!got(8L).getAs[Boolean]("ok_required_words"))
    (2L to 8L).foreach(id => assert(!got(id).getAs[Boolean]("pass")))
    // integer-exact counts carried alongside the flags
    assert(got(1L).getAs[Long]("n_words") === 64L)
    assert(got(5L).getAs[Long]("n_lines") === 10L)
  }

  test("c4Rules: line retention, page-drop flags, and conjunction") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a good long sentence here.\nshort one!\nno punctuation line\nanother fine sentence right there?"),
      (2L, "code page { with brace. and enough. sentences. four. five. six."),
      (3L, "Lorem ipsum dolor sit amet. more. text. here. now. fine."),
      (4L, "no terminal punctuation anywhere at all")
    ).toDF("doc_id", "text")
    val got = operators.TextAnalysis.c4Rules(docs, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc 1: 4 lines; kept = lines 1 and 4 (terminal punct AND >= 5
    // words — the published floor; 'short one!' fails it, line 3 the
    // punct rule)
    assert(got(1L).getAs[Long]("n_lines") === 4L)
    assert(got(1L).getAs[Long]("n_kept_lines") === 2L)
    assert(got(1L).getAs[Long]("kept_ws_tokens") === 10L)
    assert(got(1L).getAs[Long]("n_sentences") === 3L) // . ! ?
    assert(got(1L).getAs[Boolean]("ok_min_sentences")) // 3 >= 3
    assert(got(1L).getAs[Boolean]("pass"))
    assert(!got(2L).getAs[Boolean]("ok_braces"))
    assert(got(2L).getAs[Boolean]("ok_min_sentences")) // 6 sentences
    assert(!got(2L).getAs[Boolean]("pass"))
    assert(!got(3L).getAs[Boolean]("ok_lorem"))
    assert(got(4L).getAs[Long]("n_kept_lines") === 0L)
    assert(!got(4L).getAs[Boolean]("pass"))
  }

  test("fingerprint is whitespace/case-insensitive, content-sensitive") {
    import spark.implicits._
    val fps = Seq("Hello   World", "  hello world ", "hello worlds")
      .toDF("t").select(TextAnalysis.fingerprint(col("t")).as("fp"))
      .collect().map(_.getString(0))
    assert(fps(0) === fps(1))
    assert(fps(0) !== fps(2))
  }

  test("scrubPii redacts emails, urls, and phone runs; leaves prose alone") {
    import spark.implicits._
    val out = Seq(
      "write to jane.doe+spam@mail.example.org today",
      "docs at https://example.com/a/b?q=1 ok",
      "call +1 (555) 010-4242 now",
      "年号 2024 and plain words stay untouched"
    ).toDF("t").select(TextAnalysis.scrubPii(col("t")).as("s"))
      .collect().map(_.getString(0))
    assert(out(0) === "write to <EMAIL> today")
    assert(out(1) === "docs at <URL> ok")
    assert(out(2) === "call <PHONE> now")
    assert(out(3) === "年号 2024 and plain words stay untouched")
  }

  test("deterministic split: stable, complete, near the requested fractions") {
    import spark.implicits._
    val ids = (0L until 5000L).toDF("id")
    val out = TextAnalysis.withSplit(ids, "id", trainPct = 80, validPct = 10)
    val dist = out.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dist.values.sum === 5000L)
    assert(dist("train") > 3800 && dist("train") < 4200)
    assert(dist("valid") > 350 && dist("valid") < 650)
    assert(dist("test") > 350 && dist("test") < 650)
    // repartition-stable: same assignment regardless of layout
    val a = out.select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = TextAnalysis.withSplit(ids.repartition(13), "id", 80, 10)
      .select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a === b)
    // nonlinear: consecutive ids do not stride through buckets periodically
    val buckets = out.orderBy("id").select("split_bucket")
      .limit(20).collect().map(_.getLong(0))
    val strides = buckets.sliding(2).map(p => (p(1) - p(0) + 100) % 100).toSet
    assert(strides.size > 1, s"bucket stride is constant: $strides")
  }

  test("url canonicalization truth table") {
    import spark.implicits._
    val cases = Seq(
      // host case + default port + first-position tracking param + fragment
      ("HTTPS://Example.COM:443/Data/x?utm_source=a&page=2#top",
        "https://example.com/Data/x?page=2"),
      // mid-position tracking param survives its neighbors
      ("http://h.com/p?page=1&utm_campaign=c&ref=ok",
        "http://h.com/p?page=1&ref=ok"),
      // only tracking params -> query gone entirely
      ("http://h.com/p?fbclid=z", "http://h.com/p"),
      // trailing slash; path case preserved
      ("https://A.com/Path/", "https://a.com/Path"),
      // non-default port kept
      ("http://h.com:8080/x", "http://h.com:8080/x"),
      // nothing to do
      ("https://h.com/a?b=1", "https://h.com/a?b=1"))
    val out = cases.map(_._1).toDF("u")
      .select(TextAnalysis.canonicalizeUrl(col("u")).as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(out === cases.map(_._2))
  }

  test("repetition signals: hand-computed bigram ratios") {
    import spark.implicits._
    // "a b a b a": bigrams = [a b, b a, a b, b a] -> total 4, distinct 2,
    //   dup ratio (4-2)/4 = 0.5, top share 2/4 = 0.5
    // "x y z": bigrams = [x y, y z] -> total 2, dup 0, top share 0.5
    // "solo": no bigrams -> total 0, ratios 0
    // "t t t t": bigrams = [t t, t t, t t] -> dup 2/3, top share 1.0
    val docs = Seq((1L, "a b a b a"), (2L, "x y z"), (3L, "solo"),
      (4L, "t t t t")).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionSignals(docs, "text", "doc_id")
      .orderBy("_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got === Array(
      (1L, 4L, 0.5, 0.5),
      (2L, 2L, 0.0, 0.5),
      (3L, 0L, 0.0, 0.0),
      (4L, 3L, 0.6667, 1.0)))
  }

  test("repetition signals: per-doc gram total equals size(words)-1") {
    import spark.implicits._
    val docs = Seq((1L, "  padded   text  with   runs "), (2L, ""),
      (3L, "one two three four five")).toDF("doc_id", "text")
    val rows = TextAnalysis.repetitionSignals(docs, "text", "doc_id").collect()
    rows.foreach { r =>
      val ratio = r.getAs[Double]("dup_bigram_ratio")
      assert(ratio >= 0.0 && ratio <= 1.0)
    }
  }

  test("chunkWords: stride, overlap content, and tail chunk") {
    import spark.implicits._
    // 7 tokens, chunkSize 3, overlap 1 -> stride 2 -> starts 0,2,4,6
    val docs = Seq((1L, "a b c d e f g")).toDF("doc_id", "text")
    val got = TextAnalysis.chunkWords(docs, "text", "doc_id", 3, 1)
      .orderBy("chunk_id").collect()
      .map(r => (r.getAs[Long]("chunk_id"), r.getAs[Long]("n_chunk_tokens"),
        r.getAs[String]("chunk_text")))
    assert(got.toSeq === Seq(
      (0L, 3L, "a b c"), (1L, 3L, "c d e"), (2L, 3L, "e f g"),
      (3L, 1L, "g"))) // tail keeps the remainder
  }

  test("chunkWords: single-token and empty docs") {
    import spark.implicits._
    val docs = Seq((1L, "only"), (2L, "   "), (3L, ""))
      .toDF("doc_id", "text")
    val got = TextAnalysis.chunkWords(docs, "text", "doc_id", 5, 2).collect()
    assert(got.length === 1) // empty/whitespace docs emit no chunks
    assert(got.head.getAs[String]("chunk_text") === "only")
    assert(got.head.getAs[Long]("chunk_id") === 0L)
  }

  test("chunkWords: zero overlap partitions tokens exactly") {
    import spark.implicits._
    val docs = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val chunks = TextAnalysis.chunkWords(docs, "text", "doc_id", 4, 0)
      .orderBy("chunk_id").collect()
    val rebuilt = chunks.map(_.getAs[String]("chunk_text")).mkString(" ")
    assert(rebuilt === (1 to 10).map(i => s"t$i").mkString(" "))
    assert(chunks.map(_.getAs[Long]("n_chunk_tokens")).toSeq === Seq(4L, 4L, 2L))
  }

  test("removeBoilerplateLines: high-df lines vanish, body order survives") {
    import spark.implicits._
    val docs = Seq(
      (1L, "nav bar\nalpha one\nbeta two\ncopyright corp"),
      (2L, "nav bar\ngamma three\ncopyright corp"),
      (3L, "nav bar\ndelta four\n  \nepsilon five\ncopyright corp"),
      (4L, "nav bar\nzeta six")).toDF("doc_id", "text")
    val got = TextAnalysis.removeBoilerplateLines(docs, "text", "doc_id", 3L)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text")))
    // nav (df 4) and copyright (df 3) cross the threshold; empty lines
    // drop; everything else keeps its original relative order.
    assert(got.toSeq === Seq(
      (1L, "alpha one\nbeta two"),
      (2L, "gamma three"),
      (3L, "delta four\nepsilon five"),
      (4L, "zeta six")))
  }

  test("removeBoilerplateLines: df counts distinct docs, not occurrences") {
    import spark.implicits._
    // "echo" repeats 3x inside ONE doc: occurrence count 3 but df 1 —
    // must survive a minDocFreq=3 threshold.
    val docs = Seq(
      (1L, "echo\necho\necho\nunique a"),
      (2L, "unique b")).toDF("doc_id", "text")
    val got = TextAnalysis.removeBoilerplateLines(docs, "text", "doc_id", 3L)
      .orderBy("doc_id").collect().map(_.getAs[String]("clean_text"))
    assert(got.toSeq === Seq("echo\necho\necho\nunique a", "unique b"))
  }

  test("htmlToText: structure stripped, entities decoded once, boundaries kept") {
    import spark.implicits._
    val html = "<html><head><style>p{x}</style></head><body>" +
      "<p>a</p><p>b</p><script>if (x &lt; 2) alert('hi')</script>" +
      "<!-- note --><div>fish &amp;amp; chips &#39;n&#39; &quot;peas&quot;</div>" +
      "</body></html>"
    val got = Seq(html).toDF("h")
      .select(TextAnalysis.htmlToText(col("h")).as("t")).head().getString(0)
    // a/b keep their word boundary; script (with its entity-looking
    // body) and the comment vanish wholesale; &amp;amp; decodes ONCE to
    // &amp; — never double-decodes to a bare &.
    assert(got === "a b fish &amp; chips 'n' \"peas\"")
  }

  test("dedupParagraphs: first occurrence survives, later copies vanish") {
    import spark.implicits._
    val docs = Seq(
      (1L, "shared para\n\nbody one"),
      (2L, "shared para\n\nbody two\n\nshared para"), // dup twice over
      (3L, "shared para")                             // nothing unique
    ).toDF("doc_id", "text")
    val got = TextAnalysis.dedupParagraphs(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text")))
    // doc 1 keeps its copy (lowest (id, pos)); doc 2 loses BOTH copies
    // (positions 0 and 2) but keeps its unique body in order; doc 3
    // had nothing the corpus didn't already have — it disappears.
    assert(got.toSeq === Seq(
      (1L, "shared para\n\nbody one"),
      (2L, "body two")))
  }

  test("dedupParagraphs: within-doc order restored across partitions") {
    import spark.implicits._
    val docs = Seq((1L, (0 until 8).map(i => s"para $i").mkString("\n\n")))
      .toDF("doc_id", "text").repartition(5)
    val got = TextAnalysis.dedupParagraphs(docs, "text", "doc_id")
      .head().getAs[String]("clean_text")
    assert(got === (0 until 8).map(i => s"para $i").mkString("\n\n"))
  }

  test("removeBoilerplateLines: all-boilerplate doc survives as empty text") {
    import spark.implicits._
    val docs = ((1 to 30).map(i => (i.toLong, s"shared footer\nbody $i")) :+
      (99L, "shared footer")).toDF("doc_id", "text")
    val got = TextAnalysis.removeBoilerplateLines(docs, "text", "doc_id",
        minDocFreq = 10).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("clean_text"))
      .toMap
    assert(got.size === 31) // id set preserved exactly
    assert(got(99L) === "") // not dropped, not null
    assert(got(7L) === "body 7")
  }

  test("capDocsPerGroup: clamps big groups, leaves small ones whole") {
    import spark.implicits._
    val docs = ((1 to 40).map(i => (i.toLong, "big")) ++
      (101 to 103).map(i => (i.toLong, "small")))
      .toDF("doc_id", "source").repartition(7)
    val got = TextAnalysis.capDocsPerGroup(docs, col("source"),
        col("doc_id"), maxDocs = 5)
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("doc_id"))
    assert(got.count(_._1 == "big") === 5)
    assert(got.filter(_._1 == "small").map(_._2).sorted.toSeq ===
      Seq(101L, 102L, 103L)) // under the cap: untouched
    // deterministic: same selection on every run / partitioning
    val again = TextAnalysis.capDocsPerGroup(docs.repartition(3),
        col("source"), col("doc_id"), maxDocs = 5)
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(again === got.map(_._2).sorted.toSeq)
    // and it matches the window formulation of the same rule
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      .orderBy(TextAnalysis.priorityHash(col("doc_id")), col("doc_id"))
    val viaWindow = docs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5).collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(again === viaWindow)
  }

  test("filterBlockedDomains: exact, subdomain, label-boundary, hostless") {
    import spark.implicits._
    val pages = Seq(
      (1L, "https://ads.tracker.com/a"),   // subdomain of blocked
      (2L, "http://tracker.com/b"),        // exact blocked
      (3L, "https://cdn.example.com/c"),   // clean
      (4L, "https://nottracker.com/d"),    // label boundary: NOT blocked
      (5L, "not a url at all"),            // hostless: kept
      (6L, "HTTPS://SUB.SPAM.NET:443/e"),  // case + port + depth-2
      (7L, "https://spam.net.evil.org/f")  // blocked string mid-host: kept
    ).toDF("doc_id", "url")
    val blocklist = Seq("tracker.com", "spam.net").toDF("domain")
    val kept = TextAnalysis.filterBlockedDomains(pages, col("url"), blocklist)
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(kept === Seq(3L, 4L, 5L, 7L))
  }
  test("CDC chunking: boundaries re-synchronize after a prefix insertion") {
    import spark.implicits._
    // 400-word deterministic text; doc 2 = the same text with 3 words
    // inserted at the head. Fixed-size chunking would shift EVERY chunk;
    // content-defined boundaries re-sync after the first boundary, so
    // the two docs must share most chunk fingerprints.
    val tail = (0 until 400).map(i => s"w${(i * 37 + 11) % 97}x${i % 13}")
      .mkString(" ")
    val docs = Seq((1L, tail), (2L, "ins1 ins2 ins3 " + tail))
      .toDF("doc_id", "text")
    val out = TextAnalysis.chunkContentDefined(docs, "text", "doc_id",
      divisor = 16).collect()
    val f1 = out.filter(_.getAs[Long]("doc_id") == 1L)
      .map(r => (r.getAs[Long]("n_words"), r.getAs[Long]("fingerprint")))
    val f2 = out.filter(_.getAs[Long]("doc_id") == 2L)
      .map(r => (r.getAs[Long]("n_words"), r.getAs[Long]("fingerprint")))
    assert(f1.length > 5, s"expected many chunks, got ${f1.length}")
    val shared = f1.toSet.intersect(f2.toSet)
    // everything after the first re-sync boundary is identical: only
    // the head chunk(s) may differ
    assert(shared.size >= f1.length - 2,
      s"CDC failed to re-sync: ${shared.size} of ${f1.length} chunks shared")
    // and chunks tile the documents exactly
    assert(f1.map(_._1).sum === 400L)
    assert(f2.map(_._1).sum === 403L)
  }

  test("CDC chunking: chunk ids are dense and starts are cumulative") {
    import spark.implicits._
    val docs = Seq((7L, (0 until 100).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextAnalysis.chunkContentDefined(docs, "text", "doc_id",
      divisor = 8)
    val rows = out.collect().sortBy(_.getAs[Long]("chunk_id"))
    assert(rows.map(_.getAs[Long]("chunk_id")).toSeq ===
      rows.indices.map(_.toLong))
    // start of chunk k = 1 + total words of chunks before it
    val starts = rows.map(_.getAs[Long]("start_pos"))
    val sizes = rows.map(_.getAs[Long]("n_words"))
    assert(starts.head === 1L)
    rows.indices.drop(1).foreach { k =>
      assert(starts(k) === starts(k - 1) + sizes(k - 1))
    }
    assert(sizes.sum === 100L)
  }
  test("sentence segmentation: punctuation runs, trailing text, 1-based ids") {
    import spark.implicits._
    val docs = Seq(
      (1L, "First one. Second!? Third has  no terminator"),
      (2L, "Only sentence."),
      (3L, "Ends clean! ")).toDF("doc_id", "text")
    val got = TextAnalysis.splitSentences(docs, "text", "doc_id")
      .orderBy("doc_id", "sent_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("sent_id"),
        r.getAs[Long]("n_words")))
    // doc1: 'First one' / 'Second' / 'Third has  no terminator' (4 words)
    // doc2: trailing '.' stays attached (no following whitespace split)
    // doc3: trailing separator produces no empty sentence
    assert(got.toSeq === Seq(
      (1L, 1L, 2L), (1L, 2L, 1L), (1L, 3L, 4L),
      (2L, 1L, 2L),
      (3L, 1L, 2L)))
  }

  test("groupSplit: every group lands in exactly one split (no leakage)") {
    import spark.implicits._
    val df = (0 until 500).map(i => (i.toLong, s"dom${i % 37}"))
      .toDF("id", "dom")
    val r = TextAnalysis.groupSplit(df, "dom")
    val leaky = r.groupBy("dom")
      .agg(countDistinct("split").as("ns"))
      .filter(col("ns") > 1).count()
    assert(leaky === 0)
    // all three shards populated over 37 groups, and row counts conserved
    assert(r.select("split").distinct().count() === 3)
    assert(r.count() === 500)
  }

  test("groupSplit is repartition-stable and row-order-independent") {
    import spark.implicits._
    val df = (0 until 200).map(i => (i.toLong, s"g${i % 23}")).toDF("id", "g")
    val a = TextAnalysis.groupSplit(df.repartition(1), "g")
      .select("id", "split").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val b = TextAnalysis.groupSplit(df.orderBy(col("id").desc).repartition(7), "g")
      .select("id", "split").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a === b)
  }

  test("readability: hand-computed Flesch on known sentences") {
    import spark.implicits._
    // "The cat sat on the mat.": 6 words, 1 sentence, 6 vowel groups
    // -> 206.835 - 1.015*6 - 84.6*1 = 116.145
    val df = Seq(
      (1L, "The cat sat on the mat."),
      (2L, "no terminal punctuation here")).toDF("doc_id", "text")
    val got = TextAnalysis.readability(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got(1L) === ((6L, 1L, 6L, 116.145)))
    // fragment: sentence count floors at 1 instead of dividing by zero
    val (w2, s2, _, f2) = got(2L)
    assert(w2 === 4L && s2 === 1L && f2 < 116.145)
  }

  test("ngramRepetition: hand-computed character masses and verdicts") {
    import spark.implicits._
    // doc 1: the 10-word sentence repeated once. Canonical length
    // 48 + 1 + 48 = 97. Heaviest bigram "seven eight" (11 chars) x2 = 22;
    // trigram "seven eight nine" (16) x2 = 32; 4-gram "six seven eight
    // nine" / "seven eight nine ten" (20) x2 = 40. Every dup-n span
    // union covers both sentences minus the joining space: 96 chars.
    val sentence = "one two three four five six seven eight nine ten"
    val docs = Seq(
      (1L, s"$sentence $sentence"),
      (2L, "alpha beta gamma"),
      (3L, "   "),
      (4L, "Spam Ham spam ham")).toDF("doc_id", "text")
    val got = TextAnalysis.ngramRepetition(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    val d1 = got(0)
    assert(d1.getAs[Long]("total_chars") === 97L)
    assert(d1.getAs[Long]("top2_chars") === 22L)
    assert(d1.getAs[Long]("top3_chars") === 32L)
    assert(d1.getAs[Long]("top4_chars") === 40L)
    (5 to 10).foreach(n =>
      assert(d1.getAs[Long](s"dup${n}_chars") === 96L, s"dup$n"))
    assert(!d1.getAs[Boolean]("pass"))
    // doc 2: nothing repeats, but the TOP rules still measure the
    // heaviest single gram (cnt 1): "alpha beta" = 10 of 16 chars —
    // over the 20% bar, the published rule's behavior on short docs.
    val d2 = got(1)
    assert(d2.getAs[Long]("total_chars") === 16L)
    assert(d2.getAs[Long]("top2_chars") === 10L)
    assert((5 to 10).forall(n => d2.getAs[Long](s"dup${n}_chars") === 0L))
    assert(!d2.getAs[Boolean]("ok_top2") && d2.getAs[Boolean]("ok_dup5"))
    // doc 3: canonically empty — all zeros, every rule vacuously ok
    val d3 = got(2)
    assert(d3.getAs[Long]("total_chars") === 0L)
    assert(d3.getAs[Boolean]("pass"))
    // doc 4: lowercase canonicalization collapses Spam/spam into one
    // gram: "spam ham" x2 = 16 chars of 17
    val d4 = got(3)
    assert(d4.getAs[Long]("total_chars") === 17L)
    assert(d4.getAs[Long]("top2_chars") === 16L)
  }

  test("langIdNb: held-out sentences classified; beats the heuristic on stopword-free text") {
    import spark.implicits._
    // none of these sentences appear in langIdTrainSet
    val docs = Seq(
      (1L, "un viaje largo por la costa revela pueblos llenos de musica", "es"),
      (2L, "apres la pluie les rues brillent et les gens sortent ensemble", "fr"),
      (3L, "gegen abend wurde der wind starker und trieb wolken uber das tal", "de"),
      (4L, "bright lanterns floated above the harbor as sailors told stories", "en"),
      // compound nouns, zero marker stopwords: the heuristic is blind here
      (5L, "bahnhofstrasse wunderschoen krankenhaus geschwindigkeitsbegrenzung zusammenarbeit", "de"),
      (6L, "ab", "und") // sub-trigram: null scores, 'und'
    ).toDF("doc_id", "text", "expected")
    val nb = TextAnalysis.langIdNb(docs, "text", "doc_id")
      .join(docs.select("doc_id", "text", "expected"), "doc_id")
      .withColumn("heur", TextAnalysis.langId(col("text")))
      .orderBy("doc_id").collect()
    nb.foreach { r =>
      assert(r.getAs[String]("lang_pred") === r.getAs[String]("expected"),
        s"doc ${r.getAs[Long]("doc_id")}")
    }
    // the differential: trained NB identifies the stopword-free German
    // doc the marker-word heuristic cannot
    val d5 = nb.find(_.getAs[Long]("doc_id") == 5L).get
    assert(d5.getAs[String]("heur") === "und" &&
      d5.getAs[String]("lang_pred") === "de")
    // null scores on the sub-trigram doc, not zeros
    val d6 = nb.find(_.getAs[Long]("doc_id") == 6L).get
    assert(d6.isNullAt(d6.fieldIndex("s_en")))
  }

  test("epochShuffle: reproducible, dense positions, epochs differ, matches local replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = (1L to 200L).toDF("doc_id")
    val out = TextAnalysis.epochShuffle(docs, "doc_id", epochs = 2, shards = 4)
      .collect().map(r => (r.getAs[Int]("epoch"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("shard"), r.getAs[Int]("pos")))
    // reproducible: a second run is identical
    val again = TextAnalysis.epochShuffle(docs, "doc_id", epochs = 2, shards = 4)
      .collect().map(r => (r.getAs[Int]("epoch"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("shard"), r.getAs[Int]("pos")))
    assert(out.toSet === again.toSet)
    // every doc appears once per epoch; positions are dense 1..n per shard
    assert(out.length === 400)
    out.groupBy(t => (t._1, t._3)).foreach { case (_, g) =>
      assert(g.map(_._4).sorted.toSeq === (1 to g.length).toSeq)
    }
    // epochs produce different orders (the point of reshuffling)
    val order0 = out.filter(_._1 == 0).sortBy(t => (t._3, t._4)).map(_._2).toSeq
    val order1 = out.filter(_._1 == 1).sortBy(t => (t._3, t._4)).map(_._2).toSeq
    assert(order0 !== order1)
    // local replay of the full contract: md5(epoch:id) -> shard, rank
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val expect = (for {
      e <- 0 to 1; id <- 1L to 200L
      hk = md5hex(s"$e:$id")
      shard = (java.lang.Long.parseLong(hk.take(6), 16) % 4).toInt
    } yield (e, id, shard, hk)).groupBy(t => (t._1, t._3)).flatMap { case (_, g) =>
      g.sortBy(t => (t._4, t._2)).zipWithIndex
        .map { case ((e, id, sh, _), i) => (e, id, sh, i + 1) }
    }.toSet
    assert(out.toSet === expect)
  }

  test("charEntropy: hand-computed values on degenerate and uniform strings") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aaaa"),        // single symbol: H = 0
      (2L, "abcd"),        // uniform over 4: H = ln 4
      (3L, "aaab"),        // counts 3,1 over n=4: H = ln 4 - 3 ln 3 / 4
      (4L, "  A  a B  "),  // canonicalization: "a a b" -> a:2, b:1, ' ':2
      (5L, "")             // no canonical chars: omitted
    ).toDF("doc_id", "text")
    val got = TextAnalysis.charEntropy(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    def h(counts: Seq[Long]): Double = {
      val n = counts.sum
      val s = counts.map(c => BigDecimal(math.log(c.toDouble))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP) * BigDecimal(c)).sum
      BigDecimal(math.log(n.toDouble) - s.toDouble / n.toDouble)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(got.keySet === Set(1L, 2L, 3L, 4L))
    assert(got(1L) === ((4L, 1L, 0.0)))
    assert(got(2L) === ((4L, 4L, h(Seq(1L, 1L, 1L, 1L)))))
    assert(got(3L) === ((4L, 2L, h(Seq(3L, 1L)))))
    assert(got(4L) === ((5L, 3L, h(Seq(2L, 2L, 1L)))))
  }
}
