package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity, TextStats}

/** Training-data ops over the driver-provided documents/embeddings tables. */
class OpsSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"
  private def docs = TestSpark.spark.read.parquet(s"$dir/documents.parquet")
  private def emb = TestSpark.spark.read.parquet(s"$dir/embeddings.parquet")

  test("minhash-LSH pairs match brute-force jaccard pairs at threshold 0.8") {
    val brute = Dedup.jaccardPairsBrute(docs, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashPairs(docs, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // verification filter makes LSH precise; bands make recall high —
    // on the planted near-dups (j≈0.97) recall must be total
    assert(lsh == brute, s"missing=${brute -- lsh} extra=${lsh -- brute}")
  }

  test("dedup clusters: chains converge to one component (fixpoint)") {
    val spark = TestSpark.spark
    import spark.implicits._
    // a 6-node chain: 5-4, 4-3, 3-2, 2-1, 1-0 — needs >1 propagation round
    val ids = (0L to 5L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val chain = (0L until 5L).map(i => (i, i + 1)).toDF("a", "b")
    val cl = Dedup.clusters(ids, chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl.values.toSet == Set(0L), s"all chain members -> cluster 0: $cl")
  }

  test("dedup clusters: no persisted RDD is left behind (r3 verdict leak)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ids = (0L to 5L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val chain = (0L until 5L).map(i => (i, i + 1)).toDF("a", "b")
    val out = Dedup.clusters(ids, chain)
    assert(out.count() == 6) // consume AFTER clusters returned
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"clusters leaked persisted RDDs: $leaked")
  }

  test("dedup clusters: pair members share a cluster; singletons self-map") {
    val pairs = Dedup.minhashPairs(docs, threshold = 0.8)
    val cl = Dedup.clusters(docs, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ps = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ps.nonEmpty)
    ps.foreach { case (a, b) =>
      assert(cl(a) == cl(b), s"pair ($a,$b) in clusters ${cl(a)} vs ${cl(b)}")
      assert(cl(a) <= math.min(a, b))
    }
    val paired = ps.flatMap(p => Seq(p._1, p._2)).toSet
    cl.foreach { case (id, c) => if (!paired.contains(id)) assert(c == id) }
  }

  test("simhash: identical texts collide; near-dups within small hamming") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different content about spark catalyst optimizers")
    ).toDF("doc_id", "text")
    val sigs = df.select(col("doc_id"), Dedup.simhash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)) > 10)
  }

  test("cosine topk: self excluded, ranks contiguous, scores descending") {
    val out = Similarity.cosineTopK(emb, col("vec_id") < 5, k = 5).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_.getInt(1)).sorted.sameElements(1 to 5))
      val scores = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      assert(!rows.exists(_.getLong(2) == q))
    }
  }

  test("ann-lsh neighbors are a subset of brute-force candidates by bucket") {
    val out = Similarity.annLsh(emb, col("vec_id") < 5, k = 5)
    val rows = out.collect()
    // within a bucket ranking must match exact cosine ordering
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val scores = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("native WordShingles expression matches the HOF reference exactly") {
    val both = docs.select(
      Dedup.shingles(col("text"), 3).as("native"),
      Dedup.shinglesHof(col("text"), 3).as("hof")).collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
    // edge cases: empty, whitespace-only, fewer words than n, unicode ws,
    // leading tabs (UTF8String.trim strips 0x20 ONLY — must match HOF)
    val spark = TestSpark.spark
    import spark.implicits._
    val edge = Seq("", "   ", "one", "one two", "a\tb\nc d", "\t\nx y z w",
      "dup dup dup dup", "Ä Ö ü ß MIXED case").toDF("text")
    val e = edge.select(
      Dedup.shingles(col("text"), 3).as("native"),
      Dedup.shinglesHof(col("text"), 3).as("hof")).collect()
    e.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1),
      s"native=${r.getSeq[String](0)} hof=${r.getSeq[String](1)}"))
  }

  test("multi-probe lsh: recall vs exact is at least single-probe's") {
    def recallOf(df: org.apache.spark.sql.DataFrame, brute: Set[(Long, Long)]): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      got.intersect(brute).size.toDouble / brute.size
    }
    val brute = Similarity.cosineTopK(emb, col("vec_id") < 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val single = recallOf(Similarity.annLsh(emb, col("vec_id") < 10, k = 5), brute)
    val multi = recallOf(
      Similarity.annLsh(emb, col("vec_id") < 10, k = 5, multiProbe = true), brute)
    assert(multi >= single, s"multi $multi < single $single")
    assert(multi > 0.0)
  }

  test("ivf ann: full probe equals exact brute-force top-k; partial probes rank correctly") {
    val brute = Similarity.cosineTopK(emb, col("vec_id") < 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // nprobe == nlist => every list probed => EXACT search
    val full = Similarity.annIvf(emb, col("vec_id") < 10, k = 5, nlist = 8, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(full == brute, s"missing=${brute -- full} extra=${full -- brute}")
    // partial probe: per-query ranking must stay internally consistent and
    // deterministic across runs
    val p1 = Similarity.annIvf(emb, col("vec_id") < 10, k = 5, nlist = 8, nprobe = 2).collect()
    val p2 = Similarity.annIvf(emb, col("vec_id") < 10, k = 5, nlist = 8, nprobe = 2).collect()
    assert(p1.map(_.toString).sameElements(p2.map(_.toString)))
    p1.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val scores = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
    // recall sanity vs exact on this corpus (planted clusters -> high recall)
    val recall = (p1.map(r => (r.getLong(0), r.getLong(2))).toSet
      .intersect(brute.map(t => (t._1, t._3))).size.toDouble) / brute.size
    assert(recall >= 0.5, s"ivf nprobe=2/8 recall $recall")
  }

  test("native MinHashSig expression matches the HOF reference bit-for-bit") {
    val sh = docs.select(Dedup.shingles(col("text"), 3).as("sh"))
    val both = sh.select(
      Dedup.minhashSignature(col("sh"), 32).as("native"),
      Dedup.minhashSignatureHof(col("sh"), 32).as("hof")).collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
    // empty shingle array -> k nulls on both sides
    val spark = TestSpark.spark
    import spark.implicits._
    val empty = Seq(Seq.empty[String]).toDF("sh")
    val e = empty.select(
      Dedup.minhashSignature(col("sh"), 4).as("native"),
      Dedup.minhashSignatureHof(col("sh"), 4).as("hof")).collect().head
    assert(e.getSeq[Any](0) == Seq(null, null, null, null))
    assert(e.getSeq[Any](0) == e.getSeq[Any](1))
    // null ELEMENTS: the HOF hashes them as xxhash64(i) alone — native
    // must match (it substitutes the running seed)
    val withNull = Seq(1).toDF("x")
      .select(array(lit("a"), lit(null).cast("string"), lit("bb")).as("sh"))
    val wn = withNull.select(
      Dedup.minhashSignature(col("sh"), 8).as("native"),
      Dedup.minhashSignatureHof(col("sh"), 8).as("hof")).collect().head
    assert(wn.getSeq[Long](0) == wn.getSeq[Long](1))
  }

  test("manku simhash blocking equals seg16 blocking equals brute hamming") {
    val manku = Dedup.simhashPairs(docs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val seg16 = Dedup.simhashPairsSeg16(docs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force: all pairs within hamming 3 (both blockings are exact
    // for d<=3 by pigeonhole, so all three sets must be equal)
    val sigs = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b)).toSet
    assert(manku == brute, s"manku missing=${brute -- manku} extra=${manku -- brute}")
    assert(seg16 == brute, s"seg16 missing=${brute -- seg16} extra=${seg16 -- brute}")
    assert(brute.nonEmpty, "test corpus must contain planted simhash near-dups")
  }

  test("native SimHash64 expression matches the HOF reference formulation") {
    val both = docs.select(
      Dedup.simhash(col("text")).as("native"),
      Dedup.simhashHof(col("text")).as("hof")).collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("native CosineSim expression matches the HOF reference bit-for-bit") {
    import org.apache.spark.sql.functions.transform
    val d = emb.select(
      transform(col("embedding"), x => x.cast("double")).as("v1"),
      org.apache.spark.sql.functions.reverse(
        transform(col("embedding"), x => x.cast("double"))).as("v2"))
    val both = d.select(
      graft.ops.Similarity.cosine(col("v1"), col("v2")).as("native"),
      graft.ops.Similarity.cosineHof(col("v1"), col("v2")).as("hof")).collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)), s"$r")
    }
  }

  test("token stats and quality are deterministic and sane") {
    val ts = TextStats.tokenStats(docs).collect()
    assert(ts.forall(r => r.getInt(1) > 0 && r.getInt(3) > 0))
    val q = TextStats.quality(docs).collect()
    q.foreach { r =>
      val score = r.getDouble(4)
      assert(score >= 0.0 && score <= 1.0, s"score $score")
    }
    val lid = TextStats.langId(docs).collect()
    assert(lid.forall(r =>
      (TextStats.AllLangs :+ "und").toSet.contains(r.getString(2))))
  }

  test("decontaminate: exact gram overlap flags, disjoint docs stay clean") {
    val spark = TestSpark.spark
    import spark.implicits._
    val bench = Seq((0L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "prefix words then alpha beta gamma delta epsilon and tail"), // shares a 5-gram
      (2L, "completely different words with no shared five gram runs here"),
      (3L, "alpha beta gamma delta epsilon zeta copied verbatim")) // shares several
      .toDF("doc_id", "text")
    val out = Dedup.decontaminate(train, bench, ngram = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(out(1L)._2 == 1 && out(1L)._1 >= 1, out(1L))
    assert(out(2L) == ((0L, 0)), out(2L))
    assert(out(3L)._2 == 1 && out(3L)._1 >= 2, out(3L))
    // corpus-level: every training doc gets a row, zeros included
    val full = Dedup.decontaminate(
      docs.where(col("doc_id") % 50 =!= 0), docs.where(col("doc_id") % 50 === 0))
    assert(full.count() == docs.where(col("doc_id") % 50 =!= 0).count())
  }

  test("repetition: duplicate-word and top-bigram fractions are exact") {
    val spark = TestSpark.spark
    import spark.implicits._
    val t = Seq(
      (1L, "x x x x"),          // 4 words, 1 distinct; bigrams: "x x" * 3
      (2L, "a b c d"),          // all distinct; 3 bigrams, each unique
      (3L, "spam spam ham spam spam")) // top bigram "spam spam" = 2 of 4
      .toDF("doc_id", "text")
    val out = TextStats.repetition(t)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((4L, 0.75, 1.0)), out(1L))
    assert(out(2L) == ((4L, 0.0, 0.3333)), out(2L)) // 3 bigrams, each once
    assert(out(3L) == ((5L, 0.6, 0.5)), out(3L))
    // deterministic over the real corpus; fractions in range
    val full = TextStats.repetition(docs).collect()
    assert(full.length == docs.count())
    full.foreach { r =>
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) < 1.0)
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("native RepetitionStats matches the HOF fold formulation exactly") {
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(key(TextStats.repetition(docs)) == key(TextStats.repetitionHof(docs)))
    // adversarial shapes: empty-ish, single word, all-same, unicode ws
    val spark = TestSpark.spark
    import spark.implicits._
    val t = Seq((1L, "solo"), (2L, "x"), (3L, "a a a a a a"),
      (4L, "  padded   with\tspaces  "), (5L, "ü Ü ü")).toDF("doc_id", "text")
    assert(key(TextStats.repetition(t)) == key(TextStats.repetitionHof(t)))
    // NULL text: top_bigram_frac must be 0.0 (the oracle's COALESCE), not
    // NULL, and n_words/dup_word_frac stay NULL — on BOTH formulations
    val withNull = Seq((6L, null.asInstanceOf[String])).toDF("doc_id", "text")
    Seq(TextStats.repetition(withNull), TextStats.repetitionHof(withNull))
      .foreach { df =>
        val r = df.collect().head
        assert(r.isNullAt(1) && r.isNullAt(2), r)
        assert(!r.isNullAt(3) && r.getDouble(3) == 0.0, r)
      }
  }

  test("passage dedup: hot paragraphs stripped, order preserved, threshold exact") {
    val spark = TestSpark.spark
    import spark.implicits._
    val hot = "repeated disclaimer line"
    val crafted = Seq(
      (1L, s"alpha one\n$hot\nbeta two"),
      (2L, s"$hot\ngamma three"),
      (3L, s"delta four\n$hot"),
      (4L, hot), // a doc of ONLY the hot para -> empty text, n_kept 0
      (5L, "unique solo")).toDF("doc_id", "text")
    val out = Dedup.stripRepeatedParagraphs(crafted, maxDocs = 2).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((3, 2L, "alpha one\nbeta two")))
    assert(out(2L) == ((2, 1L, "gamma three")))
    assert(out(3L) == ((2, 1L, "delta four")))
    assert(out(4L) == ((1, 0L, "")))
    assert(out(5L) == ((1, 1L, "unique solo")))
    // a paragraph in exactly maxDocs docs is KEPT (strictly-greater rule)
    val two = Seq((1L, "x\nshared"), (2L, "shared\ny")).toDF("doc_id", "text")
    val keep = Dedup.stripRepeatedParagraphs(two, maxDocs = 2).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(keep(1L) == "x\nshared" && keep(2L) == "shared\ny")
    // blank-line separators are EXEMPT: repeating in 3 docs must not get
    // them stripped (that would reflow paragraph boundaries corpus-wide)
    val blanks = Seq((1L, "a\n\nb"), (2L, "c\n\nd"), (3L, "e\n\nf"))
      .toDF("doc_id", "text")
    val kept2 = Dedup.stripRepeatedParagraphs(blanks, maxDocs = 2).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(kept2 == Map(1L -> "a\n\nb", 2L -> "c\n\nd", 3L -> "e\n\nf"))
    // the corpus disclaimers survive extraction AND get stripped
    val pages = graft.corpus.CorpusWriter.pagesDs(spark, 300L, partitions = 4)
    val ex = graft.pipeline.ExtractPipeline.run(pages,
      graft.pipeline.ExtractPipeline.Config(partitions = 8)).toDF()
      .where(col("status") === "finished")
      .select(col("url"), col("text").cast("string").as("text"))
    val res = Dedup.stripRepeatedParagraphs(ex, idCol = "url", textCol = "text")
    assert(res.where(col("n_kept") < col("n_paras")).count() > 0,
      "planted disclaimers must be corpus-present and stripped")
  }

  test("quality: stopword ratio scored against the argmax language's list") {
    val spark = TestSpark.spark
    import spark.implicits._
    val crafted = Seq(
      // German doc: 6 of 10 tokens are German stopwords; the English list
      // would score it 0 (the r4 verdict's spurious-low-quality case)
      (1L, "der hund und die katze ist nicht auf jener wiese"),
      // English doc: as before
      (2L, "the dog and the cat is not on that lawn"),
      // no stopwords in any list -> 'und' -> English fallback -> ratio 0
      (3L, "zzz yyy xxx www vvv")).toDF("doc_id", "text")
    val q = TextStats.quality(crafted).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q(1L) == 0.6, s"german doc must score vs the German list: $q")
    assert(q(2L) == 0.6, s"english doc (the,and,the,is,on,that = 6/10): $q")
    assert(q(3L) == 0.0, s"no-stopword doc: $q")
    // empty text: a DEFINED 0.0 quality score (punctRatio's 0/0 would be
    // NULL and make a min-quality filter drop rows silently/um-documented)
    val empty = Seq((9L, "")).toDF("doc_id", "text")
    val qe = empty.select(TextStats.qualityScore(col("text"))).head()
    assert(!qe.isNullAt(0) && qe.getDouble(0) == 0.0, qe)
  }

  test("lang id: widened 22-language argmax picks stopword AND script languages") {
    val spark = TestSpark.spark
    import spark.implicits._
    val crafted = Seq(
      ("ru", "мы не знаем что это было но они так и не пришли на место"),
      ("el", "και το σύστημα είναι από τα καλύτερα για δεν θα πει κανείς"),
      ("it", "il gatto e il cane sono per la casa che non si vede"),
      ("pl", "i w tym roku nie było tak jak się wydaje że jest dobrze"),
      ("pt", "o que se pode dizer de uma casa para quem não tem em si"),
      ("tr", "bu bir deneme ve daha çok şey var ama en iyisi bu gibi"),
      ("nl", "de kat en de hond zijn niet op het dak met een bal er aan"),
      ("zh", "这是一段没有空格的中文文本用来测试脚本字符计数的语言识别逻辑"),
      ("ja", "これはひらがなとカタカナをふくむにほんごのテキストです"),
      ("ko", "이것은 한글 문자로만 이루어진 한국어 텍스트 표본입니다"),
      ("und", "qqq zzz xxx 12345"))
    val got = crafted.zipWithIndex.map { case ((want, t), i) => (i.toLong, want, t) }
      .toDF("doc_id", "want", "text")
      .select(col("want"), TextStats.langGuess(col("text")).as("got"))
      .collect().map(r => r.getString(0) -> r.getString(1))
    got.foreach { case (want, g) => assert(g == want, s"want $want got $g") }
    // script-lang quality: the stopword-ratio proxy is the script-char
    // density, so pure-CJK text scores high, not zero
    val zh = Seq((1L, "这是一段没有空格的中文文本")).toDF("doc_id", "text")
      .select(TextStats.stopwordRatio(col("text"))).head().getDouble(0)
    assert(zh == 1.0, s"pure-CJK density must be 1.0: $zh")
    // the c15 corpus plants ru/el/zh docs that survive extraction; the
    // NATIVE LangStats must match the declarative twin doc-for-doc on
    // both the guess and the ratio (the twin is what the generated
    // oracle SQL mirrors)
    val pages = graft.corpus.CorpusWriter.pagesDs(spark, 300L, partitions = 4)
    val ex = graft.pipeline.ExtractPipeline.run(pages,
      graft.pipeline.ExtractPipeline.Config(partitions = 8)).toDF()
      .where(col("status") === "finished")
      .select(col("url"), col("text").cast("string").as("text"))
    val both = ex.select(col("url"),
      TextStats.langGuess(col("text")).as("g"),
      TextStats.langGuessHof(col("text")).as("gh"),
      round(TextStats.stopwordRatio(col("text")), 4).as("r"),
      round(TextStats.stopwordRatioHof(col("text")), 4).as("rh")).collect()
    both.foreach { r =>
      assert(r.getString(1) == r.getString(2), s"lang native!=hof: $r")
      assert(r.getDouble(3) == r.getDouble(4), s"ratio native!=hof: $r")
    }
    val guessed = both.map(_.getString(1)).toSet
    Seq("ru", "el", "zh", "ja", "ko").foreach(l =>
      assert(guessed.contains(l), s"corpus must yield $l docs: $guessed"))
    // crafted adversarial twins too (ties, script mixes, empties)
    val adv = (crafted.map(_._2) ++ Seq("", " ", "de la le and и 和",
      "on on on", "i w de en und"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select(TextStats.langGuess(col("text")).as("g"),
        TextStats.langGuessHof(col("text")).as("gh"),
        round(TextStats.stopwordRatio(col("text")), 4).as("r"),
        round(TextStats.stopwordRatioHof(col("text")), 4).as("rh")).collect()
    adv.foreach { r =>
      assert(r.getString(0) == r.getString(1), s"lang native!=hof: $r")
      assert(r.getDouble(2) == r.getDouble(3), s"ratio native!=hof: $r")
    }
  }

  test("passage dedup: precondition-violating mirrored corpus stays correct (no forced broadcast)") {
    val spark = TestSpark.spark
    import spark.implicits._
    // a mirrored corpus: the SAME multi-paragraph article under many ids —
    // the exact input the exact-dedup-first precondition exists for. The
    // hot set here is the whole paragraph population (grows with the
    // duplicated fraction); with the r4 broadcast(hot) hint this shape was
    // an OOM plan at scale — now AQE decides, and the semantics must hold:
    // every paragraph is in 8 > 2 distinct docs, so every doc empties.
    val article = (1 to 12).map(i => s"mirrored paragraph number $i with content").mkString("\n")
    val mirrored = (1L to 8L).map(id => (id, article))
    val unique = Seq((100L, "only here\nsolo text"))
    val docs = (mirrored ++ unique).toDF("doc_id", "text")
    val out = Dedup.stripRepeatedParagraphs(docs, maxDocs = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    mirrored.foreach { case (id, _) => assert(out(id) == ((0L, ""))) }
    assert(out(100L) == ((2L, "only here\nsolo text")))
  }

  test("dedup clusters: pointer jumping resolves a deep chain within the round cap") {
    val spark = TestSpark.spark
    import spark.implicits._
    // a 30-node chain has diameter 29: plain min-label propagation needs
    // 29 rounds and would blow the default maxRounds=10 cap — the
    // path-halving step must bring it home in O(log 30) ~ 6 rounds
    val n = 30L
    val ids = (0L until n).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("a", "b")
    val cl = Dedup.clusters(ids, chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl.values.toSet == Set(0L), s"chain must collapse to component 0: $cl")
  }

  test("dedup clusters: repeated invocations init the checkpoint fallback at most once") {
    val spark = TestSpark.spark
    import spark.implicits._
    val ids = (0L to 3L).map(i => (i, s"d $i")).toDF("doc_id", "text")
    val pairs = Seq((0L, 1L), (2L, 3L)).toDF("a", "b")
    (1 to 3).foreach { _ => assert(Dedup.clusters(ids, pairs).count() == 4) }
    // one JVM-wide lazy dir (and ONE shutdown hook), no matter how many
    // clusters() calls fell back — the r4 hook-accumulation finding
    assert(Dedup.fallbackCheckpointInits.get() <= 1,
      s"fallback dir inited ${Dedup.fallbackCheckpointInits.get()} times")
  }

  test("mix: token budget keeps the per-group prefix, including the exact-fit row") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq(
      ("a", 1L, 40L), ("a", 2L, 60L), // running 40, 100 -> both fit at 100
      ("a", 3L, 1L),                  // running 101 -> over; PREFIX rule:
      ("a", 4L, 0L),                  // zero-token row after overflow? running
                                      // stays 101 -> dropped too (prefix holds)
      ("b", 1L, 100L), ("b", 2L, 1L)  // b: 100 fits exactly, 101 over
    ).toDF("g", "id", "n")
    val kept = graft.ops.Mix.tokenBudgetPerGroup(df, col("g"),
        Seq(col("id")), col("n"), budget = 100L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSet
    assert(kept == Set(("a", 1L, 40L), ("a", 2L, 100L), ("b", 1L, 100L)), kept)
  }

  test("mix: bucketed two-phase budget equals the window formulation") {
    val spark = TestSpark.spark
    import spark.implicits._
    // coarse groups (2 langs), many rows, awkward token sizes; bucket =
    // id / 7 is order-aligned with the id ordering
    val df = (1 to 200).map(i =>
      (if (i % 2 == 0) "en" else "fi", i.toLong, (i * 13 % 37).toLong))
      .toDF("g", "id", "n").repartition(8)
    def rows(d: org.apache.spark.sql.DataFrame) = d
      .select("g", "id", "n", "running_tokens").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val win = graft.ops.Mix.tokenBudgetPerGroup(df, col("g"),
      Seq(col("id")), col("n"), budget = 700L)
    val bkt = graft.ops.Mix.tokenBudgetPerGroupBucketed(df, col("g"),
      col("id") / 7, Seq(col("id")), col("n"), budget = 700L)
    assert(rows(bkt) == rows(win), "two-phase must equal the window plan")
    assert(rows(win).nonEmpty && rows(win).size < 200, "budget must bite")
    // a degenerate single bucket also matches (pure offset-0 path)
    val one = graft.ops.Mix.tokenBudgetPerGroupBucketed(df, col("g"),
      lit(0), Seq(col("id")), col("n"), budget = 700L)
    assert(rows(one) == rows(win))
    // NULL group keys form their own window partition in BOTH variants —
    // the bucketed offset join is null-safe, so the row sets still match
    val withNullG = Seq((null.asInstanceOf[String], 1L, 10L),
      (null.asInstanceOf[String], 2L, 10L), ("a", 3L, 10L))
      .toDF("g", "id", "n")
    def rowsN(d: org.apache.spark.sql.DataFrame) = d
      .select("id", "running_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(
      rowsN(graft.ops.Mix.tokenBudgetPerGroupBucketed(withNullG, col("g"),
        col("id") / 2, Seq(col("id")), col("n"), budget = 15L)) ==
      rowsN(graft.ops.Mix.tokenBudgetPerGroup(withNullG, col("g"),
        Seq(col("id")), col("n"), budget = 15L)))
  }

  test("urls: canonicalize strips fragments/ports/slashes, lowercases prefix only") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.ops.Urls
    val cases = Seq(
      "https://X.Test/Path/Sub/" -> "https://x.test/Path/Sub", // path case KEPT
      "HTTP://A.Test:80/x" -> "http://a.test/x",
      "https://a.test:443" -> "https://a.test",
      "https://a.test:8080/x" -> "https://a.test:8080/x", // non-default port kept
      "https://a.test/x#frag" -> "https://a.test/x",
      "https://a.test/" -> "https://a.test",
      // query strings: never lowercased, never slash-stripped inside;
      // path-less host?query must not swallow the query into the host
      "https://A.Test?Session=AbC" -> "https://a.test?Session=AbC",
      "https://a.test:443?x=1" -> "https://a.test?x=1",
      "https://a.test/search?dir=/tmp/" -> "https://a.test/search?dir=/tmp/",
      "https://a.test/p/?x=1" -> "https://a.test/p?x=1", // path slash before query
      "not a url" -> "not a url")
    val got = cases.map(_._1).map(Tuple1.apply).toDF("u")
      .select(Urls.canonicalize(col("u"))).collect().map(_.getString(0))
    assert(got.toSeq == cases.map(_._2), got.toSeq)
    // IDEMPOTENCE — the property a dedup key needs: re-normalizing an
    // already-canonical url must be the identity
    val twice = cases.map(_._1).map(Tuple1.apply).toDF("u")
      .select(Urls.canonicalize(Urls.canonicalize(col("u"))))
      .collect().map(_.getString(0))
    assert(twice.toSeq == got.toSeq, "canonicalize must be idempotent")
  }

  test("urls: registered domain, blocklist filter, per-domain cap") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.ops.Urls
    val df = Seq(
      ("https://a.example.test/x", 1L),
      ("https://b.example.test/y", 2L),
      ("https://sub.deep.other.org/z", 3L),
      ("not a url", 4L)).toDF("url", "ts")
    val doms = df.select(Urls.registeredDomain(col("url")).as("d"))
      .collect().map(_.getString(0))
    assert(doms.toSeq == Seq("example.test", "example.test", "other.org", ""))
    // PSL-aware ccSLD handling: a two-label public suffix pushes the
    // registered domain to three labels; a BARE public-suffix host falls
    // back to itself; unknown two-label endings stay two-label
    val cc = Seq(
      "https://news.bbc.co.uk/story",       // -> bbc.co.uk (not co.uk)
      "https://a.b.shop.example.com.au/x",  // deep subdomains -> 3 labels
      "https://co.uk/",                     // bare suffix -> itself
      "https://deep.sub.example.org/y",     // non-ccSLD -> 2 labels
      // DNS is case-insensitive: mixed-case hosts must collapse to the
      // same lowercase domain (blocklists/caps would otherwise split)
      "https://A.Example.TEST/x",
      "https://News.BBC.Co.UK/x",
      // PSL wildcard rules: *.ck makes shop.ck a public suffix, so the
      // registered domain takes a third label; *.kawasaki.jp a fourth
      "https://a.shop.ck/x",                // -> a.shop.ck
      "https://deep.a.shop.ck/x",           // -> a.shop.ck
      "https://shop.ck/x",                  // bare wildcard suffix -> itself
      "https://www.ex.kawasaki.jp/x",       // -> www.ex.kawasaki.jp (4)
      "https://ex.kawasaki.jp/x",           // bare 3-label suffix -> itself
      // PSL exception rules carve registrables back out of the wildcard
      "https://sub.www.ck/x",               // !www.ck -> www.ck
      "https://www.ck/x",                   // -> itself
      "https://blog.city.kawasaki.jp/x",    // !city.kawasaki.jp -> city...
      "https://x.y.city.kawasaki.jp/x")     // deep under the exception
      .map(Tuple1.apply).toDF("url")
      .select(Urls.registeredDomain(col("url")).as("d"))
      .collect().map(_.getString(0))
    assert(cc.toSeq == Seq("bbc.co.uk", "example.com.au", "co.uk",
      "example.org", "example.test", "bbc.co.uk",
      "a.shop.ck", "a.shop.ck", "shop.ck",
      "www.ex.kawasaki.jp", "ex.kawasaki.jp",
      "www.ck", "www.ck", "city.kawasaki.jp", "city.kawasaki.jp"))
    assert(Urls.filterBlocklist(df, "url", Seq("example.test")).count() == 2)
    // cap 2 keeps the two EARLIEST (ts) docs of the 3-doc domain
    val many = Seq(
      ("https://x.d.com/1", 30L), ("https://x.d.com/2", 10L),
      ("https://x.d.com/3", 20L), ("https://y.e.com/1", 5L)).toDF("url", "ts")
    val kept = Urls.capPerDomain(many, "url", "ts", 2)
      .select("url").collect().map(_.getString(0)).toSet
    assert(kept == Set("https://x.d.com/2", "https://x.d.com/3", "https://y.e.com/1"))
    val stats = Urls.domainStats(many, "url", "ts", cap = 2,
      block = Seq("d.com")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5), r.getInt(6)))).toMap
    // min_kept_url pins the ORDERING: the earliest-two kept set {/2,/3}
    // has min /2; a cap keeping the LATEST two ({/1,/3}) would report /1
    assert(stats("d.com") ==
      ((3L, 3L, 2L, "https://x.d.com/2", "https://x.d.com/3", 1)))
    assert(stats("e.com") ==
      ((1L, 1L, 1L, "https://y.e.com/1", "https://y.e.com/1", 0)))
    // a NULL-ts row is ranked (NULLS FIRST) and must survive the
    // null-safe semi-join — capPerDomain and domainStats agree on it
    val withNullTs = Seq(("https://n.f.com/1", Some(5L)),
      ("https://n.f.com/2", None)).toDF("url", "ts")
    val keptN = Urls.capPerDomain(withNullTs, "url", "ts", 1)
      .select("url").collect().map(_.getString(0)).toSeq
    assert(keptN == Seq("https://n.f.com/2"), s"NULL ts sorts first: $keptN")
    val statsN = Urls.domainStats(withNullTs, "url", "ts", cap = 1, block = Nil)
      .collect().map(r => r.getString(0) -> (r.getLong(3), r.getString(4))).toMap
    assert(statsN("f.com") == ((1L, "https://n.f.com/2")), statsN)
  }

  test("pii: counts exact, redaction equals java.util.regex on fixtures") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rows = Seq(
      (1L, "Reach me at jane.doe@example.org or +358401234567 from 10.1.2.3 today."),
      (2L, "no pii here at all, just prose with commas"),
      (3L, "two mails a@b.io and c.d%x@e-f.net plus ip 192.168.0.1 end"),
      (4L, "not a phone 12345, not an ip 1.2, not a mail foo@bar"),
      (5L, "node 2001:db8:1:2::3 and fe80::1 are ipv6; 12:30:45 is a time"),
      (6L, "card 4111 1111 1111 1111 or bare 4222222222222222 end"),
      (7L, "loopback ::1 works; naked :: pairs do not match"),
      // the documented conservative trade-off: a hex-looking char before
      // '::' reads as a compressed address ("d::" here) — pinned so a
      // future pattern change is a conscious decision
      (8L, "std::vector is code"))
    val df = rows.toDF("doc_id", "text")
    def redact(s: String): String = s
      .replaceAll(TextStats.EmailPat, "<EMAIL>")
      .replaceAll(TextStats.PhonePat, "<PHONE>")
      .replaceAll(TextStats.Ipv6Pat, "<IPV6>")
      .replaceAll(TextStats.Ipv4Pat, "<IP>")
      .replaceAll(TextStats.CardPat, "<CARD>")
    val got = TextStats.piiStats(df).collect().map(r =>
      r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4),
        r.getInt(5), r.getInt(6)))).toMap
    assert(got(1L) == ((1, 1, 1, 0, 0, redact(rows(0)._2).length)))
    assert(got(2L) == ((0, 0, 0, 0, 0, rows(1)._2.length)))
    assert(got(3L) == ((2, 0, 1, 0, 0, redact(rows(2)._2).length)))
    // "foo@bar" lacks a dot-TLD; "1.2" is not a dotted quad; "12345" has no +CC
    assert(got(4L) == ((0, 0, 0, 0, 0, rows(3)._2.length)))
    // clock times (single colons) are NOT ipv6; :: compressed forms are
    assert(got(5L) == ((0, 0, 0, 2, 0, redact(rows(4)._2).length)), got(5L))
    assert(got(6L) == ((0, 0, 0, 0, 2, redact(rows(5)._2).length)), got(6L))
    // leading-:: form matches; a bare '::' does not
    assert(got(7L) == ((0, 0, 0, 1, 0, redact(rows(6)._2).length)), got(7L))
    assert(got(8L) == ((0, 0, 0, 1, 0, redact(rows(7)._2).length)), got(8L))
    // the corpus plants PII that must survive extraction: finished pages
    // carry redactable emails AND the c12 ipv6/card categories
    val pages = graft.corpus.CorpusWriter.pagesDs(spark, 300L, partitions = 4)
    val ex = graft.pipeline.ExtractPipeline.run(pages,
      graft.pipeline.ExtractPipeline.Config(partitions = 8)).toDF()
    val pii = TextStats.piiStats(
      ex.where(org.apache.spark.sql.functions.col("status") === "finished")
        .select(org.apache.spark.sql.functions.col("url"),
          org.apache.spark.sql.functions.col("text").cast("string").as("text")),
      idCol = "url")
    import org.apache.spark.sql.functions.col
    assert(pii.where(col("n_emails") > 0).count() > 0)
    assert(pii.where(col("n_ipv6") > 0).count() > 0, "corpus must plant ipv6")
    assert(pii.where(col("n_card") > 0).count() > 0, "corpus must plant cards")
  }

  test("native PiiScan equals the sequential-pass reference on corpus + edges") {
    val spark = TestSpark.spark
    import spark.implicits._
    // adversarial boundary fixtures: category overlap, replacement
    // boundaries, non-BMP chars, empties — including the ipv6/card cases
    // where a POSITION-FIRST fused alternation would diverge from the
    // sequential contract (see the PiiScan scaladoc): both implementations
    // here are sequential, so they must agree even on these
    val edges = Seq(
      "+123456789@x.example mail-or-phone", // '+' digits then @: email wins
      "1.2.3.4@x.example ip-or-email", // digits+dots local part: email wins
      "a@b.cd+3581234567 phone right after an email",
      "+3581234567a@b.cd digits absorbed into the email local part",
      "a@b.cd@c.de double at", "a@b.cd1.2.3.4 trailing quad",
      "🙂 a@b.cd non-BMP before a match", "", " ", "no pii",
      "999.999.999.999999 oversize quad", "+123456 too-short phone",
      "x@y.z single-letter tld is not a match",
      "fe80::1@x.com ipv6-abutting-email: the email wins the digit",
      "4111 1111 1111 1111@x.com grouped card before an at-sign",
      "::ffff:10.1.2.3 v4-mapped v6", "00:1A:2B:3C:4D:5E mac is not ipv6",
      "12:30:45 time is not ipv6", "2001:db8::8a2e:370:7334 compressed",
      "+4111111111111111 long digits are a phone first",
      "1234567890123456 bare 16 digits are a card",
      "123456789012 twelve digits are nothing")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val corpusTexts = graft.corpus.GenGoldens.dedupedPages(300L).flatMap { p =>
      val e = graft.extract.Extractor.extract(p.url, p.html)
      if (e.status == "finished")
        Some(new String(e.text, java.nio.charset.StandardCharsets.UTF_8))
      else None
    }
    // unique sequential ids (url.hashCode could collide and silently
    // drop rows from the comparison)
    val corpus = corpusTexts.zipWithIndex.map { case (t, i) =>
      ((edges.length + i).toLong, t)
    }
    val df = (edges ++ corpus).toDF("doc_id", "text")
    val native = TextStats.piiStats(df).collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val ref = TextStats.piiStatsRef(df).collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(native.keySet == ref.keySet)
    ref.foreach { case (k, v) =>
      assert(native(k) == v, s"doc $k: native ${native(k)} != ref $v")
    }
    assert(native.values.exists(v => v.head.asInstanceOf[Int] > 0),
      "corpus must contain pii-bearing docs")
  }

  test("fingerprints: k smallest hashes, sorted CSV, stable across runs") {
    // fingerprint is a CSV string (array cols crash the driver comparer)
    val a = TextStats.fingerprint(docs).collect().map(r =>
      r.getLong(0) -> r.getString(1).split(",").map(_.toLong).toSeq)
    val b = TextStats.fingerprint(docs).collect().map(r =>
      r.getLong(0) -> r.getString(1).split(",").map(_.toLong).toSeq)
    assert(a.sameElements(b))
    a.foreach { case (_, fp) =>
      assert(fp.length <= 8 && fp == fp.sorted)
    }
  }

  test("mix: holdout split matches a scalar md5 reference; partition-invariant") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = (1L to 4000L).toDF("id")
    def rows(d: org.apache.spark.sql.DataFrame) =
      graft.ops.Mix.holdoutSplit(d, col("id"), testFrac = 0.1, valFrac = 0.1)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .sortBy(_._1).toSeq
    val a = rows(df)
    assert(a == rows(df.repartition(13)), "split must be partition-invariant")
    // independent scalar reference: java MessageDigest md5 over the same
    // salted string, same 4-hex-char prefix, same lexicographic cuts
    val md = java.security.MessageDigest.getInstance("MD5")
    a.foreach { case (id, bucket, split) =>
      val hex = md.digest(s"split:$id".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 4)
      assert(bucket == hex, s"id=$id")
      val want = if (hex < "199a") "test"
        else if (hex < "3333") "validation" else "train"
      assert(split == want, s"id=$id bucket=$hex")
    }
    // fractions land near 10/10/80 (binomial tolerance at n=4000), and
    // every row is assigned exactly one split
    val by = a.groupBy(_._3).view.mapValues(_.size).toMap
    assert(by.values.sum == 4000)
    assert(by("test") > 300 && by("test") < 520, by.toString)
    assert(by("validation") > 300 && by("validation") < 520, by.toString)
    // distinct salts give independent assignments (not the same rows)
    val other = graft.ops.Mix.holdoutSplit(df, col("id"), 0.1, 0.1, salt = "s2")
      .where(col("split") === "test").select("id")
      .collect().map(_.getLong(0)).toSet
    val first = a.filter(_._3 == "test").map(_._1).toSet
    assert(other != first, "a new salt must re-deal the split")
  }

  test("dedup: dup-window stats — exact counts on a hand corpus, short docs null") {
    val spark = TestSpark.spark
    import spark.implicits._
    // k=5: doc 1 and doc 2 share the runs "a b c d e" and "b c d e f";
    // doc 3 is shorter than one window
    val df = Seq(
      (1L, "a b c d e f g h"),
      (2L, "z z a b c d e f y"),
      (3L, "x y")).toDF("doc_id", "text")
    val out = Dedup.dupWindowStats(df, k = 5, maxDocs = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 4L, 2L, Some(0.5)),
      (2L, 5L, 2L, Some(0.4)),
      (3L, 0L, 0L, None)), out.toString)
  }

  test("mix: hash sampling matches a scalar md5 reference per group; keep-all kept") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = (1L to 3000L).map(i => (i, Seq("en", "de", "zh")(i.toInt % 3)))
      .toDF("id", "g")
    val fr = Map("en" -> 0.5, "de" -> 0.25, "zh" -> 1.0)
    def kept(d: org.apache.spark.sql.DataFrame) =
      graft.ops.Mix.hashSample(d, col("id"), col("g"), fr, default = 0.1)
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val a = kept(df)
    assert(a == kept(df.repartition(11)), "sampling must be partition-invariant")
    // independent scalar reference over EVERY input row
    val md = java.security.MessageDigest.getInstance("MD5")
    val aSet = a.map(_._1).toSet
    (1L to 3000L).foreach { id =>
      val g = Seq("en", "de", "zh")(id.toInt % 3)
      val hex = md.digest(s"sample:$id".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 4)
      val want = g match {
        case "en" => hex < "8000"
        case "de" => hex < "4000"
        case _ => true // zh: keep-all branch, no threshold compare
      }
      assert(aSet.contains(id) == want, s"id=$id g=$g hex=$hex")
    }
    // the keep-all group survives in full; sampled groups land near rate
    val by = a.groupBy(_._2).view.mapValues(_.size).toMap
    assert(by("zh") == 1000, by.toString)
    assert(by("en") > 420 && by("en") < 580, by.toString)
    assert(by("de") > 190 && by("de") < 320, by.toString)
    // growth stability: sampling a SUPERSET keeps every previously kept id
    val grown = (1L to 4000L).map(i => (i, Seq("en", "de", "zh")(i.toInt % 3)))
      .toDF("id", "g")
    val g2 = kept(grown).map(_._1).toSet
    assert(aSet.subsetOf(g2), "corpus growth must never evict a kept row")
  }

  test("dedup: dup-window excision cuts exactly the covered spans on a hand corpus") {
    val spark = TestSpark.spark
    import spark.implicits._
    // k=5: docs 1,2 share windows "a b c d e" (doc1 pos1/doc2 pos3) and
    // "b c d e f" (doc1 pos2/doc2 pos4) -> doc1 covers tokens 1..6,
    // doc2 covers 3..8; doc 3 is shorter than one window
    val df = Seq(
      (1L, "a b c d e f g h"),
      (2L, "z z a b c d e f y"),
      (3L, "x y")).toDF("doc_id", "text")
    val out = Dedup.exciseDupWindows(df, k = 5, maxDocs = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 8L, 6L, "g h"),
      (2L, 9L, 6L, "z z y"),
      (3L, 2L, 0L, "x y")), out.toString)
  }

  test("dedup: excision agrees with dup-window stats on the corpus") {
    val stats = Dedup.dupWindowStats(docs, k = 10, maxDocs = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val ex = Dedup.exciseDupWindows(docs, k = 10, maxDocs = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    ex.foreach { case (id, n, removed, text) =>
      // a doc loses tokens iff it carries duplicated windows, never all
      // its tokens unless fully duplicated, and the kept token count
      // matches the re-serialized text
      assert((removed > 0) == (stats(id) > 0), s"doc $id")
      assert(removed <= n, s"doc $id")
      val keptToks = if (text.isEmpty) 0L else text.split(" +").length.toLong
      assert(keptToks == n - removed, s"doc $id: $keptToks != $n - $removed")
    }
    assert(ex.exists(_._3 > 0) && ex.count(_._3 == 0) > ex.length / 2)
  }

  test("dedup: dup-window stats flag the planted near-dup docs on the corpus") {
    val out = Dedup.dupWindowStats(docs, k = 10, maxDocs = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // the sf corpus plants near-identical doc pairs (the d05 LSH targets):
    // those docs must show duplicated windows; most docs show none
    val pairs = Dedup.minhashPairs(docs, threshold = 0.8).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(pairs.nonEmpty && pairs.forall(id => out(id) > 0),
      "every near-dup member must carry duplicated windows")
    assert(out.count(_._2 == 0) > out.size / 2,
      "unrelated docs must not be flagged")
  }

  // ------------------------------------------------------------------ r7
  // optimization-round rewrites: every native/plan rewrite must agree
  // row-for-row with its r6 reference formulation on the driver corpus.

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("r7: native dup-window stats == string-keyed reference (d19)") {
    for (k <- Seq(5, 10, 20)) {
      val a = sortedRows(Dedup.dupWindowStats(docs, k = k, maxDocs = 1))
      val b = sortedRows(Dedup.dupWindowStatsStrKeyed(docs, k = k, maxDocs = 1))
      assert(a == b, s"k=$k")
    }
  }

  test("native WindowHashes fails fast on a null token element") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.graftexpr.GraftExpr.window_hashes
    val ok = Seq(Seq("a", "b", "c")).toDF("tk")
    assert(ok.select(size(window_hashes(col("tk"), 2))).head().getInt(0) == 2)
    val bad = Seq(Seq("a", null, "c")).toDF("tk")
    // both the optimizer's constant fold of a local relation and the
    // codegen'd evaluation over a shuffled one must refuse
    for (df <- Seq(bad, bad.repartition(1))) {
      val e = intercept[Exception](df.select(window_hashes(col("tk"), 2)).collect())
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(c => c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains("null token at index 1")), e)
    }
  }

  test("r7: native excision == covered-set reference (d20), incl. overlaps") {
    val spark = TestSpark.spark
    import spark.implicits._
    val a = sortedRows(Dedup.exciseDupWindows(docs, k = 10, maxDocs = 1))
    val b = sortedRows(Dedup.exciseDupWindowsRef(docs, k = 10, maxDocs = 1))
    assert(a == b)
    // adversarial shapes the corpus may not contain: overlapping dup runs,
    // a fully-covered doc, back-to-back (adjacent, non-overlapping) spans
    val crafted = Seq(
      (1L, "a b c d e f a b c d e f"), // self-overlap via repetition
      (2L, "a b c d e f"),             // fully covered twin
      (3L, "p q r s t u v w x y a b c d e f z"),
      (4L, "solo words only here")).toDF("doc_id", "text")
    for (k <- Seq(2, 3, 5)) {
      val x = sortedRows(Dedup.exciseDupWindows(crafted, k = k, maxDocs = 1))
      val y = sortedRows(Dedup.exciseDupWindowsRef(crafted, k = k, maxDocs = 1))
      assert(x == y, s"k=$k")
    }
  }

  test("r7: positions-only passage dedup == reassembly reference (d14)") {
    val a = sortedRows(Dedup.stripRepeatedParagraphs(docs, maxDocs = 2))
    val b = sortedRows(Dedup.stripRepeatedParagraphsRef(docs, maxDocs = 2))
    assert(a == b)
    val spark = TestSpark.spark
    import spark.implicits._
    // empty-string text and a doc made only of hot paras
    val hot = "shared para"
    val crafted = Seq((1L, s"x\n$hot\ny"), (2L, s"$hot\nz"), (3L, hot),
      (4L, ""), (5L, "a\n\nb")).toDF("doc_id", "text")
    assert(sortedRows(Dedup.stripRepeatedParagraphs(crafted, maxDocs = 2)) ==
      sortedRows(Dedup.stripRepeatedParagraphsRef(crafted, maxDocs = 2)))
  }

  test("r7: native jaccard == built-ins jaccard (d05/d06), incl. edge arrays") {
    val spark = TestSpark.spark
    import spark.implicits._
    // full quadratic d06 over the corpus, both formulations
    val sh = docs.select(col("doc_id").as("id"),
      Dedup.shingles(col("text"), 3).as("sh"))
    def pairs(j: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column) =
      sh.as("x").join(sh.as("y"), col("x.id") < col("y.id"))
        .select(col("x.id"), col("y.id"),
          round(j(col("x.sh"), col("y.sh")), 4).as("jac"))
        .collect().map(_.toString).sorted.toSeq
    assert(pairs(Dedup.jaccard) == pairs(Dedup.jaccardHof))
    // crafted: duplicate elements, null elements, disjoint and identical
    // sets — both formulations must agree wherever the built-ins are
    // defined (ANSI-default Divide THROWS on an empty union, so that case
    // is native-only below)
    val crafted = Seq(
      (Seq("a", "b", "b", "c"), Seq("b", "c", "c", "d")),
      (Seq("a", null, "b"), Seq(null, "b", "b")),
      (Seq("x"), Seq("y")),
      (Seq("s", "t"), Seq("t", "s"))).toDF("a", "b")
    val nat = crafted.select(Dedup.jaccard(col("a"), col("b"))).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
    val hof = crafted.select(Dedup.jaccardHof(col("a"), col("b"))).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
    assert(nat == hof, s"$nat vs $hof")
    assert(nat == Seq(Some(0.5), Some(2.0 / 3), Some(0.0), Some(1.0)), nat.toString)
    // empty union: the built-ins threw DIVIDE_BY_ZERO here (unreachable
    // from shingles — never empty); the native expression is graceful
    val empty = Seq((Seq.empty[String], Seq.empty[String])).toDF("a", "b")
    assert(empty.select(Dedup.jaccard(col("a"), col("b"))).collect().head.isNullAt(0))
  }

  test("r7: native sign-LSH bucket == HOF bucket (e02)") {
    val planes = Similarity.hyperplanes(8, 64)
    val a = sortedRows(emb.select(col("vec_id"),
      Similarity.lshBucket(
        transform(col("embedding"), x => x.cast("double")), planes)))
    val b = sortedRows(emb.select(col("vec_id"),
      Similarity.lshBucketHof(
        transform(col("embedding"), x => x.cast("double")), planes)))
    assert(a == b)
  }

  test("r7: native gram sketch == HOF sketch (d08), incl. short strings") {
    val a = sortedRows(TextStats.fingerprintValues(docs)
      .select(col("doc_id"), concat_ws(",", col("fp").cast("array<string>"))))
    val b = sortedRows(TextStats.fingerprintValuesHof(docs)
      .select(col("doc_id"), concat_ws(",", col("fp").cast("array<string>"))))
    assert(a == b)
    val spark = TestSpark.spark
    import spark.implicits._
    val crafted = Seq((1L, ""), (2L, "abc"), (3L, "exactly8!"),
      (4L, "A LONGER normalized-input 123 with repeats repeats repeats"))
      .toDF("doc_id", "text")
    assert(sortedRows(TextStats.fingerprintValues(crafted)
        .select(col("doc_id"), concat_ws(",", col("fp").cast("array<string>")))) ==
      sortedRows(TextStats.fingerprintValuesHof(crafted)
        .select(col("doc_id"), concat_ws(",", col("fp").cast("array<string>")))))
  }
}
