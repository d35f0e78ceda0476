package graft

import java.sql.Timestamp

import graft.functions.HashFunctions
import graft.operators.KeyedOps
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-style invariants (SURVEY §5): deterministic scalacheck
  * generators (fixed seed — CI-reproducible), Spark-evaluated assertions.
  */
class PropertySpec extends SparkSpec {

  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    Gen.listOfN(n, g).pureApply(Gen.Parameters.default, Seed(42L))

  private val tsGen: Gen[Long] = // micros across ~3 days
    Gen.chooseNum(0L, 3L * 86400 * 1000000)

  test("tumbling windows partition the timeline: every event in exactly one window") {
    import spark.implicits._
    val events = sample(tsGen, 500).map(us => new Timestamp(us / 1000))
      .toDF("ts")
    val n = events.count()
    val windowed = events.groupBy(window($"ts", "1 hour")).agg(count(lit(1)).as("c"))
    assert(windowed.agg(sum($"c")).head.getLong(0) == n)
    // window bounds actually contain their events
    val bad = events.select($"ts", window($"ts", "1 hour").as("w"))
      .filter($"ts" < $"w.start" || $"ts" >= $"w.end").count()
    assert(bad == 0)
  }

  test("sliding windows assign exactly duration/slide windows per event") {
    import spark.implicits._
    val events = sample(tsGen, 300).map(us => new Timestamp(us / 1000))
      .toDF("ts")
    val n = events.count()
    val windowed = events
      .groupBy(window($"ts", "1 hour", "15 minutes")).agg(count(lit(1)).as("c"))
    assert(windowed.agg(sum($"c")).head.getLong(0) == n * 4)
  }

  test("session windows partition events and sessions are gap-separated") {
    import spark.implicits._
    val events = sample(Gen.zip(Gen.chooseNum(1L, 5L), tsGen), 400)
      .map { case (u, us) => (u, new Timestamp(us / 1000)) }
      .toDF("user_id", "ts")
    val n = events.count()
    val sessions = events
      .groupBy(session_window($"ts", "10 minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("c"))
    assert(sessions.agg(sum($"c")).head.getLong(0) == n)
    // consecutive sessions of one user are >= gap apart
    val gaps = sessions
      .withColumn("prev_end", lag($"w.end", 1)
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id").orderBy($"w.start")))
      .filter($"prev_end".isNotNull &&
        $"w.start" < $"prev_end")
      .count()
    assert(gaps == 0)
  }

  test("tolerant parsing never throws and classifies every row (P13)") {
    import spark.implicits._
    val junk = sample(Gen.oneOf(
      Gen.alphaNumStr, Gen.const(""), Gen.const("{\"k\": 12}"),
      Gen.const("{\"k\": }"), Gen.asciiPrintableStr), 500)
    val df = junk.toDF("props")
      .withColumn("k", expr(
        "try_cast(regexp_extract(props, '\"k\": (\\\\d+)', 1) AS INT)"))
    val total = df.count()
    val classified = df.filter($"k".isNotNull).count() +
      df.filter($"k".isNull).count()
    assert(classified == total)
  }

  test("traffic lane parse (P14 CSV): never throws, matches the reference extraction model") {
    import spark.implicits._
    // random rows: valid layouts, short rows, garbage numerics, empty lanes
    val fieldGen: Gen[String] = Gen.oneOf(
      Gen.const(""), Gen.chooseNum(0, 500).map(_.toString),
      Gen.const("garbage"), Gen.const("-1"), Gen.const(".0092"))
    val rowGen: Gen[String] = for {
      nFields <- Gen.oneOf(Gen.chooseNum(0, 47), Gen.const(50))
      ts <- Gen.oneOf("01/01/2010 00:05:00", "not a time", "")
      fields <- Gen.listOfN(math.max(0, nFields - 1), fieldGen)
    } yield (ts +: fields).mkString(",")
    val rows = sample(rowGen, 400)
    val got = graft.pipelines.ReferencePipelines
      .parseLaneReadings(rows.toDS())
      .select($"station", $"lane", $"flow", $"occupancy", $"speed")
      .as[(String, String, Int, Double, Double)]
      .collect().toSet
    // reference model (`TrafficMaxLaneFlow.scala:199-236`): >=48 fields,
    // parsable ts, lane i kept iff flow/occupancy/speed all numeric
    def toInt(s: String) = scala.util.Try(s.toInt).toOption
    def toDbl(s: String) = scala.util.Try(s.toDouble).toOption
    val expected = (for {
      r <- rows
      f = r.split(",", -1)
      if f.length >= 48 && f(0) == "01/01/2010 00:05:00"
      i <- 1 to 8
      flow <- toInt(f(6 + 5 * i))
      occ <- toDbl(f(7 + 5 * i))
      speed <- toDbl(f(8 + 5 * i))
    } yield (f(1), s"lane $i", flow, occ, speed)).toSet
    assert(got == expected,
      s"missing=${expected -- got}\nspurious=${got -- expected}")
    assert(expected.nonEmpty, "degenerate sample: no valid lanes generated")
  }

  test("salted top-k == plain top-k on random skewed data") {
    import spark.implicits._
    val rows = sample(Gen.zip(Gen.oneOf("hot", "hot", "hot", "a", "b"),
      Gen.chooseNum(0, 1000000)), 2000)
      .zipWithIndex.map { case ((k, v), i) => (k, v, i.toLong) }
      .toDF("k", "v", "id")
    val plain = KeyedOps.topKPerKey(rows, Seq($"k"), Seq($"v".desc, $"id".desc), 7)
      .select($"k", $"id").collect().toSet
    val salted = KeyedOps.topKPerKeySalted(rows, Seq($"k"),
        Seq($"v".desc, $"id".desc), 7, fanout = 8)
      .select($"k", $"id").collect().toSet
    assert(plain == salted)
  }

  test("hash sampling rate concentrates near the target fraction") {
    import spark.implicits._
    val ids = (0L until 20000L).toDF("id")
    val kept = ids.filter(HashFunctions.hashSample($"id", 0.1)).count()
    assert(kept > 1600 && kept < 2400, s"kept $kept of 20000 at frac 0.1")
  }

  test("MinHash signature agreement estimates Jaccard (sanity bound)") {
    import spark.implicits._
    // identical sets -> identical signatures; disjoint sets -> (almost
    // surely) different first components
    val h = (c: org.apache.spark.sql.Column) =>
      pmod(HashFunctions.javaStringHashCode(c).cast("long"), lit(4294967296L))
    val df = Seq(
      ("x", Seq("a b c", "b c d")), ("y", Seq("a b c", "b c d")),
      ("z", Seq("p q r", "q r s"))).toDF("id", "shingles")
    val sig2 = df.select($"id", explode($"shingles").as("s"))
      .select($"id", h($"s").as("hs"))
      .groupBy($"id").agg(min($"hs").as("m0"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sig2("x") == sig2("y"))
    assert(sig2("x") != sig2("z"))
  }

  // random "documents": word runs with varied whitespace separators,
  // occasional unicode and empty/degenerate shapes
  private val docGen: Gen[String] = {
    val word = Gen.oneOf(
      Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString),
      Gen.oneOf("a", "b", "the", "Ünï", "x1", "!?#"))
    val sep = Gen.nonEmptyListOf(Gen.oneOf(' ', ' ', ' ', '\t', '\n', '\u000B', '\f', '\r'))
      .map(_.mkString)
    for {
      n <- Gen.chooseNum(0, 12)
      ws <- Gen.listOfN(n, word)
      ss <- Gen.listOfN(n + 1, sep)
    } yield (ss.head +: ws.zip(ss.tail).flatMap { case (w, s) => Seq(w, s) })
      .mkString
  }

  test("hashedShingles: fused expr == reference fold on random docs") {
    import spark.implicits._
    import graft.functions.HashedShinglesExpr
    def ref(text: String, n: Int): Seq[Long] = {
      val toks = text.split("\\s+").filter(_.nonEmpty)
      if (toks.length < n) Seq.empty
      else toks.sliding(n).map(_.map(t =>
        BigInt(t.hashCode) mod BigInt(4294967296L))
        .reduceLeft((g, h) => (g * 1000003 + h) mod BigInt(4294967296L))
        .toLong).toSeq.distinct.sorted
    }
    val docs = sample(docGen, 300)
    Seq(1, 2, 3, 5).foreach { n =>
      val got = docs.toDF("t")
        .select(HashedShinglesExpr.hashedShingles($"t", n).as("sh"))
        .as[Seq[Long]].collect()
      docs.zip(got).foreach { case (d, g) =>
        assert(g == ref(d, n), s"n=$n doc=${d.replace("\n", "\\n")}")
      }
    }
  }

  test("simhash32: fused expr == reference bit-vote on random docs") {
    import spark.implicits._
    import graft.functions.SimHashExpr
    def ref(text: String): Long = {
      val hs = text.split("\\s+").filter(_.nonEmpty)
        .map(t => BigInt(t.hashCode).mod(BigInt(4294967296L)).toLong)
      (0 until 32).map { b =>
        val votes = hs.map(h => if (((h >> b) & 1L) == 1L) 1 else -1).sum
        if (votes > 0) 1L << b else 0L
      }.sum
    }
    val docs = sample(docGen, 300)
    val got = docs.toDF("t")
      .select(SimHashExpr.simhash32($"t")).as[Long].collect()
    docs.zip(got).foreach { case (d, g) =>
      assert(g == ref(d), s"doc=${d.replace("\n", "\\n")}")
    }
  }

  test("ngramNovelty: exact copies fully shared, unique docs fully novel") {
    import spark.implicits._
    // 3-token docs with n=3 => each doc is exactly one shingle: novelty
    // is decidable by eye. a/b are copies; c is unique; d/e share their
    // only shingle with each other.
    val docs = Seq(
      (1L, "alpha beta gamma"),  // copy of 2
      (2L, "alpha beta gamma"),
      (3L, "delta eps zeta"),    // unique
      (4L, "eta theta iota"),    // copy of 5
      (5L, "eta theta iota"),
      (6L, "ab")                 // < n tokens: no shingles, no row
    ).toDF("doc_id", "text")
    val out = graft.queries.Dedup.ngramNovelty(docs, 3)
      .select($"doc_id", $"n_shingles", $"n_shared", $"shared_frac")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out == Map(
      1L -> ((1L, 1L, 1.0)), 2L -> ((1L, 1L, 1.0)),
      3L -> ((1L, 0L, 0.0)),
      4L -> ((1L, 1L, 1.0)), 5L -> ((1L, 1L, 1.0))))
    // multi-shingle partial overlap: x shares its first 3-gram with y
    // (4 tokens => 2 shingles, 1 shared => frac 0.5)
    val partial = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma")
    ).toDF("doc_id", "text")
    val fr = graft.queries.Dedup.ngramNovelty(partial, 3)
      .filter($"doc_id" === 1L).select($"shared_frac").as[Double].head()
    assert(fr == 0.5)
  }

  test("signProject: linear, deterministic, and JL-norm-preserving") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 40L).map(id =>
      (id, Array.fill(64)(rnd.nextFloat() * 2f - 1f)))
    val df = vecs.toDF("vec_id", "embedding")
    val proj = graft.queries.Similarity.signProject(df)
      .as[(Long, Long, Double)].collect()
    assert(proj.length == 40 * 16)
    val byVec = proj.groupBy(_._1).view.mapValues(
      _.sortBy(_._2).map(_._3)).toMap
    // deterministic: a second run is bit-identical
    val again = graft.queries.Similarity.signProject(df)
      .as[(Long, Long, Double)].collect().groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3)).toMap
    assert(byVec.forall { case (k, v) => again(k).sameElements(v) })
    // JL property for THIS fixed seed + hash-derived signs (all
    // deterministic): per-vector squared-norm ratio has std ≈ √(2/k)
    // = 0.35 at k=16, so individual vectors get a loose 2.5σ band and
    // the MEAN ratio (variance ÷ 40 vectors) gets a tight one.
    val ratios = vecs.map { case (id, e) =>
      val orig = e.map(x => x.toDouble * x).sum
      val prj = byVec(id).map(y => y * y).sum
      val r = prj / orig
      assert(r > 0.15 && r < 2.5, s"vec $id: |y|^2/|x|^2 = $r") // ~4σ
      r
    }
    val mean = ratios.sum / ratios.length
    assert(math.abs(mean - 1.0) < 0.15, s"mean norm ratio $mean")
  }

  test("funnel (j10): stage times ordered, stages match a driver replay") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val got = graft.SparkEntry.queries("j10_funnel")(spark, dir)
      .as[(Long, Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // driver-side replay over the raw events
    val ev = graft.core.Tables.events(spark, dir)
      .select($"user_id", $"event_type", unix_micros($"ts"))
      .as[(Long, String, Long)].collect().groupBy(_._1)
    val expected = ev.flatMap { case (u, rows) =>
      def minAfter(tpe: String, from: Long): Option[Long] = {
        val ts = rows.collect { case (_, t, x) if t == tpe && x >= from => x }
        if (ts.isEmpty) None else Some(ts.min)
      }
      minAfter("view", Long.MinValue).map { tv =>
        val tc = minAfter("click", tv)
        val tp = tc.flatMap(c => minAfter("purchase", c))
        u -> (tv, tc, tp)
      }
    }
    assert(got == expected)
    // invariant: monotone stage times wherever present
    got.values.foreach { case (tv, tc, tp) =>
      tc.foreach(c => assert(c >= tv))
      (tc, tp) match {
        case (Some(c), Some(p)) => assert(p >= c)
        case (None, Some(_)) => fail("purchase without click")
        case _ => ()
      }
    }
    assert(got.values.exists(_._3.isDefined), "degenerate: nobody converts")
  }

  test("hash embedding (x17): unit L2 norm per doc, values in [-1, 1]") {
    import spark.implicits._
    val rows = graft.SparkEntry.queries("x17_hash_embedding")(
        spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, dim, v) =>
      assert(dim >= 0 && dim < 16)
      assert(v >= -1.0 && v <= 1.0)
    }
    rows.groupBy(_._1).foreach { case (doc, vs) =>
      val norm2 = vs.map(t => t._3 * t._3).sum
      // raw/||raw|| exactly; FP rounding only
      assert(math.abs(norm2 - 1.0) < 1e-9, s"doc $doc: |v|^2 = $norm2")
    }
  }

  test("MMR (v15): planted near-dup is skipped for the diverse pick") {
    import spark.implicits._
    // query-relevance top-2 are near-duplicates of each other (A ≈ B);
    // MMR must pick A then jump to the orthogonal C — the defining
    // behavior of the operator
    val a = Array.tabulate(4)(i => if (i == 0) 1f else 0f)
    val b = Array(0.995f, 0.1f, 0f, 0f) // ~A, still sim-2nd to q
    val c = Array(0f, 0f, 1f, 0f) // orthogonal to A/B, lower sim
    val q = Array(0.9f, 0f, 0.4f, 0f)
    def sim(x: Array[Float]) = graft.functions.VectorFunctions.cosineJvm(q, x)
    val shortlist = Seq(
      (7L, 10L, sim(a), a), (7L, 11L, sim(b), b), (7L, 12L, sim(c), c)).toDS()
    // λ=0.5 weights the near-identical A/B penalty (~0.5) above B's
    // relevance edge over C; at λ=1 MMR degenerates to pure relevance
    val got = graft.queries.Similarity.mmrSelect(shortlist, 3, 0.5)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4)
    assert(sim(a) > sim(b) && sim(b) > sim(c), "planted relevance order")
    assert(got.map(_._2).toSeq == Seq(10L, 12L, 11L),
      s"MMR order must be A, C, B (diversity beats relevance): ${got.toSeq}")
    val pure = graft.queries.Similarity.mmrSelect(shortlist, 3, 1.0)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4)
    assert(pure.map(_._2).toSeq == Seq(10L, 11L, 12L),
      "λ=1 must reduce to the relevance ranking")
  }

  test("MMR (v15) on fixture: rank-1 = relevance top-1 at λ·sim, picks distinct") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val mmr = graft.SparkEntry.queries("v15_mmr_rerank")(spark, dir)
      .as[(Long, Long, Double, Int)].collect()
    val exact = graft.SparkEntry.queries("v1_knn_brute")(spark, dir)
      .select("q_id", "vec_id", "sim", "rank")
      .as[(Long, Long, Double, Int)].collect()
    val top1 = exact.filter(_._4 == 1).map(t => t._1 -> (t._2, t._3)).toMap
    assert(mmr.groupBy(_._1).size == 20, "one group per query")
    mmr.groupBy(_._1).foreach { case (qid, rows) =>
      val ordered = rows.sortBy(_._4)
      assert(ordered.map(_._4).toSeq == (1 to 5), s"q$qid ranks")
      val (t1, t1sim) = top1(qid)
      assert(ordered.head._2 == t1,
        s"q$qid: MMR rank-1 must be the relevance top-1 (no penalty yet)")
      assert(math.abs(ordered.head._3 - 0.7 * t1sim) < 1e-6,
        s"q$qid: rank-1 score must be λ·sim of the relevance top-1")
      assert(rows.map(_._2).distinct.length == rows.length, s"q$qid dup pick")
    }
  }

  test("RRF (j12): fused ranks agree with a driver-side replay of the two lists") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val sparse = graft.SparkEntry.queries("j11_bm25")(spark, dir)
      .select("qid", "doc_id", "rank").as[(Long, Long, Int)].collect()
    val fused = graft.SparkEntry.queries("j12_rrf_fusion")(spark, dir)
      .as[(Long, Long, Double, Int)].collect()
    assert(fused.nonEmpty)
    fused.groupBy(_._1).foreach { case (qid, rows) =>
      assert(rows.map(_._4).sorted.toSeq == (1 to rows.length),
        s"q$qid: contiguous ranks")
      assert(rows.map(_._2).distinct.length == rows.length, s"q$qid dup doc")
    }
    // every doc that made BOTH lists must outrank any doc that made only
    // one list at a worse single-list rank than both of its ranks
    val sparseRank = sparse.map(t => (t._1, t._2) -> t._3).toMap
    fused.groupBy(_._1).foreach { case (qid, rows) =>
      val both = rows.filter(r => sparseRank.contains((qid, r._2)))
      assert(both.nonEmpty, s"q$qid: BM25 self-hit must survive fusion")
    }
  }

  test("count-min (t6): estimate ≥ true count for every word (one-sided)") {
    import spark.implicits._
    // one-sided error is CMS's defining contract; the emitted heavy
    // hitters carry (est, n_true) side by side precisely so it can be
    // checked here and by the oracle compare
    val dir = "/root/testdata/sf0.001"
    val got = graft.SparkEntry.queries("t6_cms_heavy_hitters")(spark, dir)
      .as[(String, Long, Long)].collect()
    assert(got.nonEmpty, "degenerate: no heavy hitters at sf0.001")
    got.foreach { case (w, est, nTrue) =>
      assert(est >= nTrue, s"CMS must never underestimate: $w $est < $nTrue")
    }
  }

  test("HLL (x18): estimate within the 256-register error band of exact") {
    import spark.implicits._
    val rows = graft.SparkEntry.queries("x18_hll_distinct")(
        spark, "/root/testdata/sf0.001")
      .as[(String, Long, Double)].collect()
    assert(rows.nonEmpty)
    // linear-counting regime at toy SF: generous ±20% band (the
    // asymptotic HLL band is 1.04/√256 ≈ 6.5%; small-range correction
    // error is larger but bounded)
    rows.foreach { case (src, exact, est) =>
      assert(est > exact * 0.8 && est < exact * 1.2,
        s"$src: HLL $est vs exact $exact")
    }
  }

  test("source cap (d15): ≤ cap rows per source, lowest-hash docs win") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val got = graft.SparkEntry.queries("d15_source_cap")(spark, dir)
      .select($"source", $"doc_id")
      .as[(String, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val docs = graft.core.Tables.documents(spark, dir)
      .select($"source", $"doc_id").as[(String, Long)].collect()
    val expected = docs.groupBy(_._1).view.mapValues { rows =>
      rows.map(_._2)
        .sortBy(id => (graft.functions.HashFunctions.knuthHashJvm(id), id))
        .take(graft.queries.Dedup.SourceCap).toSet
    }.toMap
    assert(got == expected)
    got.values.foreach(ids =>
      assert(ids.size <= graft.queries.Dedup.SourceCap))
  }

  test("DSIR weights (x20): target-vocabulary docs outscore off-target docs") {
    import spark.implicits._
    // target domain (src0) speaks vocab A; the raw corpus also holds
    // vocab-B docs. A candidate written in vocab A must get a higher
    // importance weight than one written in vocab B — the resampling
    // signal DSIR selects on. Equal doc lengths isolate the LM ratio.
    val docs = Seq(
      (0L, "alpha beta gamma delta", "src0"),
      (1L, "beta gamma delta alpha", "src0"),
      (2L, "omega sigma tau phi", "src1"),
      (3L, "sigma tau phi omega", "src1"),
      (10L, "alpha beta gamma delta", "src2"), // target-like candidate
      (11L, "omega sigma tau phi", "src2")) // off-target candidate
      .map { case (i, t, src) => (i, t, "en", src, t.length.toLong) }
    val dir = java.nio.file.Files.createTempDirectory("graft_dsir").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = graft.SparkEntry.queries("x20_dsir_weights")(spark, dir)
      .select($"doc_id", $"logratio", $"selected")
      .as[(Long, Double, Long)].collect().map(t => t._1 -> ((t._2, t._3)))
      .toMap
    assert(got(10L)._1 > got(11L)._1,
      s"target-vocab doc must outscore off-target: $got")
    assert(got(0L)._1 > got(2L)._1, "target docs themselves score high")
    // the top quartile of 6 docs = the docs strictly above the p75
    // boundary; the off-target candidates must not be in it
    assert(got(11L)._2 == 0L && got(2L)._2 == 0L && got(3L)._2 == 0L)
  }

  test("histogram sketch (x23): half-corpus histograms merge cell-wise into the whole") {
    import spark.implicits._
    // THE mergeability claim: bin counts composed from disjoint doc
    // subsets by cell-wise sum must equal the single-pass histogram —
    // what lets partial sketches compose map-side / cross-shard.
    val dir = "/root/testdata/sf0.001"
    def hist(parity: Option[Int]) = {
      val base = graft.core.Tables.documents(spark, dir)
      val docs = parity.map(p => base.filter($"doc_id" % 2 === p))
        .getOrElse(base)
      docs.select($"source",
          least(floor(size(graft.functions.TextFunctions.wsTokens($"text"))
            / 16), lit(15)).cast("long").as("bin"))
        .groupBy($"source", $"bin").agg(count(lit(1)).as("n"))
        .as[(String, Long, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
    }
    val whole = hist(None)
    val even = hist(Some(0))
    val odd = hist(Some(1))
    val merged = (even.keySet ++ odd.keySet).map(k =>
      k -> (even.getOrElse(k, 0L) + odd.getOrElse(k, 0L))).toMap
    assert(merged == whole, "cell-wise merge must reproduce the whole")
  }

  test("temperature mix (x21): shares sum to 1, budgets respect the token budget") {
    import spark.implicits._
    val rows = graft.SparkEntry.queries("x21_temperature_mix")(
        spark, "/root/testdata/sf0.001")
      .select($"n_tokens", $"share", $"budget_tokens")
      .as[(Long, Double, Long)].collect()
    assert(rows.nonEmpty)
    val shareSum = rows.map(_._2).sum
    assert(math.abs(shareSum - 1.0) < 1e-6, s"shares must sum to 1: $shareSum")
    val budget = rows.map(_._3).sum
    // floor() loses < 1 token per source, never over-allocates
    assert(budget <= 1000000L && budget > 1000000L - rows.length,
      s"budget allocation out of bounds: $budget")
    // temperature flattening: weights are sqrt, so budget ordering
    // follows token ordering (sqrt is monotone)
    val sorted = rows.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Array((n1, _, b1), (n2, _, b2)) =>
        if (n1 < n2) assert(b1 <= b2, "budgets must be monotone in size")
      case _ =>
    }
  }

  test("PII scrub (x24): redaction is idempotent and leaves no matches") {
    import spark.implicits._
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phoneRe = "\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}"
    val texts = Seq(
      "reach me at jane.doe+spam@mail.example.org today",
      "call +1-415-555-0199 or +1-202-555-0000 now",
      "mixed a@b.co and +1-111-222-3333 inline",
      "no pii here at all")
    def scrub(c: org.apache.spark.sql.Column) =
      regexp_replace(regexp_replace(c, emailRe, "[EMAIL]"),
        phoneRe, "[PHONE]")
    val df = texts.toDF("t")
      .select($"t", scrub($"t").as("once"))
      .select($"t", $"once", scrub($"once").as("twice"),
        size(regexp_extract_all($"once", lit(emailRe), lit(0))).as("e"),
        size(regexp_extract_all($"once", lit(phoneRe), lit(0))).as("p"))
      .as[(String, String, String, Int, Int)].collect()
    df.foreach { case (t, once, twice, e, p) =>
      assert(once == twice, s"scrub must be idempotent on: $t")
      assert(e == 0 && p == 0, s"scrubbed text still matches PII: $once")
    }
    assert(df.count(r => r._1 != r._2) == 3, "three rows carried PII")
  }

  test("Zipf slope (x22): natural-ish corpus fits a negative slope") {
    import spark.implicits._
    val (n, slope) = graft.SparkEntry.queries("x22_zipf_slope")(
        spark, "/root/testdata/sf0.001")
      .select($"n_ranks", $"slope").as[(Long, Double)].collect().head
    assert(n > 10, "rank window must be populated")
    assert(slope < 0.0, s"token frequencies must fall with rank: $slope")
  }

  test("Gopher rules (x26): natural text passes all six, repetitive soup fails r_rep") {
    import spark.implicits._
    // 55 distinct words, two stopwords, word lengths 3-10, no symbols —
    // passes every rule; the bad doc is 60 tokens of a 3-word vocab
    val good = ("the quick brown fox jumps over a lazy sleeping hound " +
      "while seventeen curious students quietly examine rare antique maps " +
      "beneath tall oak shelves during rainy autumn afternoons because " +
      "their patient teacher promised extra credit for careful detailed " +
      "observations about distant foreign countries and ancient trade " +
      "routes crossing vast windy deserts toward busy coastal harbors")
    val bad = Seq.fill(20)("spam ham eggs").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_gopher").toString
    Seq((0L, good, "en", "srcA", good.length.toLong),
        (1L, bad, "en", "srcB", bad.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = graft.SparkEntry.queries("x26_gopher_rules")(spark, dir)
      .select($"source", $"n_pass", $"p_rep")
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(rows("srcA") == ((1L, 1L)), s"natural text must pass the gate: $rows")
    assert(rows("srcB")._1 == 0L && rows("srcB")._2 == 0L,
      s"repetitive soup must fail r_rep: $rows")
  }

  test("normalized dedup (d24): exactly the planted case/punct twins collapse") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val planted = graft.core.Tables.documents(spark, dir)
      .filter($"doc_id" % 9 === 0).select($"doc_id").as[Long].collect().toSet
    val groups = graft.SparkEntry.queries("d24_normalized_dedup")(spark, dir)
      .select($"keeper", $"n_docs").as[(Long, Long)].collect()
    assert(groups.nonEmpty)
    // every group is one (original, uppercased twin) pair, keeper = original
    assert(groups.map(_._1).toSet == planted, "keepers must be the planted ids")
    groups.foreach { case (k, n) =>
      assert(n == 2L, s"group of keeper $k has $n members, expected the pair")
    }
  }

  test("substring spans (d25): verbatim runs pair, reversed runs don't, " +
      "coverage is exact") {
    import spark.implicits._
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // A and B share the 10-token run verbatim under different prefixes;
    // C is unique; D repeats its own 8-gram internally (gap 9 > W ⇒ two
    // spans); E carries the run REVERSED — order sensitivity means no hit
    val a = s"pref1a pref2a pref3a $run"                 // 13 toks
    val b = s"pref1b pref2b $run"                        // 12 toks
    val c = "unique1 unique2 unique3 unique4 unique5 unique6 unique7 " +
      "unique8 unique9"
    val run2 = "w1x w2x w3x w4x w5x w6x w7x w8x"
    val dD = s"$run2 fillerx $run2"                      // 17 toks
    val e = s"prefe1 prefe2 ${run.split(" ").reverse.mkString(" ")}"
    val dir = java.nio.file.Files.createTempDirectory("graft_d25").toString
    Seq((0L, a), (1L, b), (2L, c), (3L, dD), (4L, e))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = graft.SparkEntry.queries("d25_substring_spans")(spark, dir)
      .select($"doc_id", $"n_dup_grams", $"n_spans", $"dup_tokens",
        $"dup_frac")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(rows.keySet == Set(0L, 1L, 3L),
      s"only A, B and the self-repeating D may carry spans: $rows")
    // the shared run is 10 tokens ⇒ 3 dup grams, ONE span, coverage 10
    assert(rows(0L) == ((3L, 1L, 10L, 0.769231)), s"A: ${rows(0L)}")
    assert(rows(1L) == ((3L, 1L, 10L, 0.833333)), s"B: ${rows(1L)}")
    // D: its 8-gram recurs at positions 0 and 9 (gap > W) ⇒ two spans
    assert(rows(3L) == ((2L, 2L, 16L, 0.941176)), s"D: ${rows(3L)}")
  }

  test("quality classifier (x27): score replays the JVM weight fold, " +
      "kept = sign") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    def expected(text: String): (Double, Long) = {
      val toks = text.split("[ \t\n\f\r]+").filter(_.nonEmpty)
      val s = toks.foldLeft(0.0) { (acc, w) =>
        val bucket = ((w.hashCode.toLong % 256L) + 256L) % 256L
        acc + (graft.functions.HashFunctions.knuthHashJvm(bucket) /
          4294967296.0 - 0.5)
      }
      val score = BigDecimal(s / toks.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (score, if (s > 0) 1L else 0L)
    }
    val docs = graft.core.Tables.documents(spark, dir)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val got = graft.SparkEntry.queries("x27_quality_classifier")(spark, dir)
      .select($"doc_id", $"score", $"kept")
      .as[(Long, Double, Long)].collect()
    assert(got.length == docs.count(_._2.trim.nonEmpty))
    got.foreach { case (id, score, kept) =>
      val (es, ek) = expected(docs(id))
      assert(score == es && kept == ek,
        s"doc $id: got ($score, $kept), expected ($es, $ek)")
    }
  }

  test("URL dedup (d29): canonical forms are clean, groups partition the corpus") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.01" // 500 docs on 299 URL keys: real dups
    val got = graft.SparkEntry.queries("d29_url_dedup")(spark, dir)
      .as[(String, Long, Long, Long)].collect()
    val nDocs = graft.core.Tables.documents(spark, dir).count()
    assert(got.map(_._2).sum == nDocs, "groups must partition the corpus")
    assert(got.exists(_._2 > 1), "the planted keyspace must collide")
    got.foreach { case (url, n, keeper, chars) =>
      assert(url.matches("https://site[0-9]+\\.com/page/[0-9]+"),
        s"canonicalization left residue: $url")
      // the keeper's planted identity must canonicalize to its own group
      assert(keeper % 23 == url.drop("https://site".length)
        .takeWhile(_.isDigit).toLong, s"keeper $keeper not in group $url")
      assert(n >= 1 && chars > 0)
    }
  }

  test("contamination report (d30): counts nest and rates bound correctly") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val got = graft.SparkEntry.queries("d30_contamination_report")(spark, dir)
      .as[(String, Long, Long, Long, Double)].collect()
    assert(got.nonEmpty)
    val nBench = graft.core.Tables.documents(spark, dir)
      .filter(graft.functions.HashFunctions.hashSample(col("doc_id"), 0.05))
      .count()
    val nTrain = graft.core.Tables.documents(spark, dir).count() - nBench
    assert(got.map(_._2).sum == nTrain,
      "train side must be the full non-benchmark corpus (zero-hit docs too)")
    got.foreach { case (src, n, overlapping, flagged, rate) =>
      assert(flagged <= overlapping && overlapping <= n,
        s"$src: flagged ≤ overlapping ≤ docs must nest")
      assert(rate >= 0.0 && rate <= 1.0, s"$src rate $rate")
    }
  }

  test("phrase search (j13): hit counts equal a driver-side positional replay") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    def toks(t: String): Array[String] =
      t.split("[ \t\n\f\r]+").filter(_.nonEmpty)
    val docs = graft.core.Tables.documents(spark, dir)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val phrases = docs.filter(_._1 < 5)
      .map { case (id, t) => id -> toks(t).take(2) }
      .filter(_._2.length == 2)
    val expected = (for {
      (qid, Array(w1, w2)) <- phrases
      (did, t) <- docs
      ts = toks(t)
      n = ts.indices.dropRight(1).count(i => ts(i) == w1 && ts(i + 1) == w2)
      if n > 0
    } yield (qid, did) -> n.toLong).toMap
    val got = graft.SparkEntry.queries("j13_phrase_search")(spark, dir)
      .as[(Long, Long, Long, Int)].collect()
    assert(got.nonEmpty, "each phrase must at least match its own doc")
    got.foreach { case (qid, did, n, _) =>
      assert(expected((qid, did)) == n, s"($qid,$did): $n")
    }
    // top-10 cut: everything the replay found beyond rank 10 is absent,
    // everything ranked is present with the right count
    phrases.foreach { case (qid, _) =>
      val all = expected.collect { case ((q, d), n) if q == qid => (d, n) }
      val want = all.toSeq.sortBy { case (d, n) => (-n, d) }.take(10).toMap
      val have = got.filter(_._1 == qid).map(t => t._2 -> t._3).toMap
      assert(have == want, s"q$qid top-10 mismatch")
    }
  }

  test("classifier training (x28): iteration 1 replays exactly from the corpus") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    def toks(t: String): Array[String] =
      t.split("[ \t\n\f\r]+").filter(_.nonEmpty)
    val feats = graft.core.Tables.documents(spark, dir)
      .select($"lang", $"text").as[(String, String)].collect()
      .map { case (lang, t) => (if (lang == "en") 1.0 else 0.0, toks(t)) }
      .filter(_._2.nonEmpty)
      .map { case (y, ts) =>
        (y, ts.length / 50.0, ts.distinct.length.toDouble / ts.length,
          ts.map(_.length.toLong).sum.toDouble / (ts.length * 5))
      }
    // iteration 1: w = 0 ⇒ p = 0.5 for every row, so the replay needs
    // no libm at all — the gradient is exact decimal arithmetic
    val n = feats.length
    def dsum(f: ((Double, Double, Double, Double)) => Double): Double =
      feats.map(t => BigDecimal(java.math.BigDecimal.valueOf(f(t))
        .setScale(9, java.math.RoundingMode.HALF_UP))).sum.toDouble
    val g = Array(
      dsum { case (y, _, _, _) => (y - 0.5) * 1.0 },
      dsum { case (y, x1, _, _) => (y - 0.5) * x1 },
      dsum { case (y, _, x2, _) => (y - 0.5) * x2 },
      dsum { case (y, _, _, x3) => (y - 0.5) * x3 })
    val wantW = g.map(gk => r6(0.0 + 0.5 * gk / n))
    val wantAcc = r6(feats.count(_._1 == 1.0).toDouble / n) // all predicted en
    val got = graft.SparkEntry.queries("x28_classifier_train")(spark, dir)
      .as[(Int, Double, Double, Double, Double, Double)].collect()
      .sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1, 2, 3), "three iterations")
    val it1 = got.head
    assert(it1._2 == wantAcc, s"iter-1 accuracy ${it1._2} != $wantAcc")
    assert(Seq(it1._3, it1._4, it1._5, it1._6) == wantW.toSeq,
      s"iter-1 weights ${it1.productIterator.drop(2).toSeq} != ${wantW.toSeq}")
    // later iterations move: the classifier is actually learning
    assert(got(1)._2 != wantAcc || got(2)._2 != wantAcc,
      "accuracy must move once weights are nonzero")
  }

  test("incremental components (d34): == full CC on random graphs and " +
      "random base splits (property)") {
    import spark.implicits._
    for (seed <- Seq(5, 23, 61)) {
      val rnd = new scala.util.Random(seed)
      val n = 20L + rnd.nextInt(20)
      val nodes = (1L to n).toDF("id")
      val edges = Seq.fill(25 + rnd.nextInt(25))(
        (rnd.nextLong(n) + 1, rnd.nextLong(n) + 1))
        .filter { case (a, b) => a != b }.toDF("src", "dst")
      val m = 2 + rnd.nextInt(3) // random split: base = ids % m != 0
      val isBase = (c: org.apache.spark.sql.Column) =>
        org.apache.spark.sql.functions.pmod(c, lit(m.toLong)) =!= 0L
      val inc = graft.queries.Dedup
        .incrementalComponents(nodes, edges, isBase)
        .as[(Long, Long)].collect().toMap
      val full = graft.operators.ConnectedComponents.runStar(nodes, edges)
        .as[(Long, Long)].collect().toMap
      assert(inc == full, s"seed=$seed m=$m: incremental != full rebuild")
    }
  }

  test("incremental components (d34): planted delta merges two base " +
      "components through a new node; equals full-graph rebuild") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // base = {1,2,3,4,10}, new = {5,6}. Base edges form {1,2} and {3,4};
    // new node 5 bridges them (2-5, 5-3) — the contraction case where a
    // delta edge must MERGE two standing base components; 6 and 10 stay
    // singletons.
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 10L).toDF("id")
    val edges = Seq((1L, 2L), (3L, 4L), (2L, 5L), (5L, 3L))
      .toDF("src", "dst")
    val isBase = (c: org.apache.spark.sql.Column) => c =!= 5L && c =!= 6L
    val got = graft.queries.Dedup
      .incrementalComponents(nodes, edges, isBase)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 6L, 10L -> 10L), s"got $got")
    // and equals a from-scratch CC on the full graph
    val full = graft.operators.ConnectedComponents.runStar(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(got == full, "incremental must equal full rebuild")
  }

  test("effective tokens (d33): per-source mass == Σ weight·n_tok replayed " +
      "from d32 exactly; ratio 1.0 iff the source holds no near-dups") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.01"
    val weights = graft.SparkEntry.queries("d32_dup_weights")(spark, dir)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._3, r._4)).toMap // doc_id -> (n_copies, weight)
    val toks = graft.core.Tables.documents(spark, dir)
      .select($"doc_id", $"source",
        org.apache.spark.sql.functions.size(
          graft.functions.TextFunctions.wsTokens($"text")).cast("long"))
      .as[(Long, String, Long)].collect()
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = toks.groupBy(_._2).map { case (src, rows) =>
      val raw = rows.map(_._3).sum
      val eff9 = rows.foldLeft(BigDecimal(0)) { case (acc, (id, _, n)) =>
        acc + BigDecimal(weights(id)._2 * n)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      }
      src -> (rows.length.toLong, raw, r6(eff9.toDouble),
        r6(eff9.toDouble / raw))
    }
    val got = graft.SparkEntry.queries("d33_effective_tokens")(spark, dir)
      .as[(String, Long, Long, Double, Double)].collect()
    assert(got.length == want.size, "one row per source")
    got.foreach { case (src, nd, raw, eff, ratio) =>
      assert((nd, raw, eff, ratio) == want(src), s"source $src mismatch")
      assert(eff <= raw + 1e-9, s"$src effective mass exceeds raw")
      val srcAllUnique = toks.filter(_._2 == src)
        .forall(t => weights(t._1)._1 == 1L)
      assert((ratio == 1.0) == srcAllUnique,
        s"$src ratio-1.0 iff every doc is its own component")
    }
  }

  test("soft-dedup weights (d32): one row per doc, uniform 1/n per cluster, " +
      "expected mass of a cluster == one document") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.01"
    val got = graft.SparkEntry.queries("d32_dup_weights")(spark, dir)
      .as[(Long, Long, Long, Double)].collect()
    val nDocs = graft.core.Tables.documents(spark, dir).count()
    assert(got.length.toLong == nDocs, "every doc keeps a row — soft, not drop")
    assert(got.map(_._1).distinct.length == got.length, "doc_id unique")
    val byComp = got.groupBy(_._2)
    assert(byComp.exists(_._2.length > 1), "fixture must contain real clusters")
    byComp.foreach { case (comp, rows) =>
      val n = rows.length
      assert(rows.forall(_._3 == n), s"component $comp n_copies mismatch")
      assert(rows.forall(r => r._4 == 1.0 / n),
        s"component $comp weights not uniform 1/n")
      // cluster's expected gradient mass ≈ one unique document
      assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-9)
    }
    // singletons carry full weight
    assert(byComp.filter(_._2.length == 1).forall(_._2.head._4 == 1.0))
  }

  test("PQ training (v17): occupancy partitions the corpus per subspace; " +
      "subspace 0 replays exactly (init assign -> decimal means -> reassign)") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("v17_pq_train")(spark, dir)
      .as[(Long, Long, Long, Double)].collect()
    val corpus = graft.core.Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1)
    // every subspace's cells partition the corpus
    out.groupBy(_._1).foreach { case (m, rows) =>
      assert(rows.map(_._3).sum == corpus.length, s"subspace $m occupancy")
    }
    // full JVM replay of subspace 0: init assign → decimal means → reassign
    val sub = 8
    val subvecs = corpus.map { case (id, e) => (id, e.take(sub)) }
    def argmin(e: Array[Float], cands: Seq[(Int, Array[Double])]): Int = {
      var best = Double.PositiveInfinity; var bk = -1
      cands.foreach { case (cid, c) =>
        var acc = 0.0; var j = 0
        while (j < sub) { val d = e(j).toDouble - c(j); acc += d * d; j += 1 }
        if (acc < best) { best = acc; bk = cid }
      }
      bk
    }
    val init = (0 until 16).map(k =>
      (k, subvecs(k)._2.map(_.toDouble)))
    val byCell = subvecs.groupBy { case (_, e) => argmin(e, init) }
    val cents1 = byCell.toSeq.sortBy(_._1).map { case (cid, members) =>
      (cid, Array.tabulate(sub) { j =>
        val s = members.foldLeft(BigDecimal(0)) { (acc, m) =>
          acc + BigDecimal(m._2(j).toDouble).setScale(8,
            BigDecimal.RoundingMode.HALF_UP)
        }
        s.toDouble / members.length // decimal sum → double, then one division
      })
    }
    val wantCounts = subvecs.groupBy { case (_, e) => argmin(e, cents1) }
      .map { case (cid, ms) => cid.toLong -> ms.length.toLong }
    val wantSums = cents1.map { case (cid, c) =>
      cid.toLong -> BigDecimal(c.sum).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    val m0 = out.filter(_._1 == 0L)
    assert(m0.map(r => r._2 -> r._3).toMap == wantCounts,
      "subspace-0 occupancy must replay exactly")
    m0.foreach { case (_, cid, _, cSum) =>
      assert(cSum == wantSums(cid), s"c_sum mismatch for cell $cid")
    }
  }

  test("BPE merges (x31): election is the true argmax and iteration 2 " +
      "sees the rewritten corpus (incl. the consecutive-run relaxation)") {
    import spark.implicits._
    // planted: (a,b) dominates; one doc is the consecutive run "a b a b"
    // whose FIRST occurrence only merges (space consumed by the match —
    // deterministic both engines, documented relaxation)
    val docs = Seq(
      (0L, "a b c a b"),
      (1L, "a b a b"),
      (2L, "x a b y"),
      (3L, "c c c")).toDF("doc_id", "text")
    val got = graft.queries.TextAnalytics.bpeMerges(docs, 2)
      .as[(Int, String, String, Long, String)].collect().sortBy(_._1)
    // iteration 1: (a,b) appears 5 times — in doc1 "a b a b" BOTH
    // adjacent (a,b) pairs count (pair counting is over tokens)
    assert(got(0) == ((1, "a", "b", 5L, "a_b")), s"iter1=${got(0)}")
    // after rewrite: doc0 "a_b c a_b", doc1 "a_b a b" (run relaxation:
    // second occurrence's leading space was consumed), doc2 "x a_b y"
    // → iteration-2 pairs: (a_b,c) 1, (c,a_b) 1, (a_b,a) 1, (a,b) 1,
    //   (x,a_b) 1, (a_b,y) 1, (c,c) 2 → argmax (c,c) n=2
    assert(got(1) == ((2, "c", "c", 2L, "c_c")), s"iter2=${got(1)}")
    // no adjacent pair at all (here: no documents): no merge, no row —
    // DuckDB's empty b1
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.queries.TextAnalytics.bpeMerges(none, 2).count() == 0L)
  }

  test("BPE encode (x32): per-doc counts replay the merges exactly, " +
      "including the consecutive-run relaxation; empty doc pins ratio 1.0") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b c a b"),  // → "a_b c a_b": 5 → 3
      (1L, "a b a b"),    // → "a_b a b" (run relaxation): 4 → 3
      (2L, "x a b y"),    // → "x a_b y": 4 → 3
      (3L, "c c c"),      // iter2 (c,c) → "c_c c" (run relaxation): 3 → 2
      (4L, "")).toDF("doc_id", "text") // 0 tokens → ratio 1.0 guard
    val got = graft.queries.TextAnalytics.bpeEncode(docs, 2)
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(got(0) == ((0L, 5L, 3L, 2L, 0.6)), s"doc0=${got(0)}")
    assert(got(1) == ((1L, 4L, 3L, 1L, 0.75)), s"doc1=${got(1)}")
    assert(got(2) == ((2L, 4L, 3L, 1L, 0.75)), s"doc2=${got(2)}")
    assert(got(3) == ((3L, 3L, 2L, 1L, 0.666667)), s"doc3=${got(3)}")
    assert(got(4) == ((4L, 0L, 0L, 0L, 1.0)), s"doc4=${got(4)}")
    // no adjacent pair: every doc keeps its tokens; no docs: no rows
    val single = Seq((0L, "a"), (1L, "")).toDF("doc_id", "text")
    assert(graft.queries.TextAnalytics.bpeEncode(single, 2)
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1).toSeq ==
      Seq((0L, 1L, 1L, 0L, 1.0), (1L, 0L, 0L, 0L, 1.0)))
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.queries.TextAnalytics.bpeEncode(none, 2).count() == 0L)
  }

  test("cluster sample (v18): bounded-buffer pick == rank-window pick, " +
      "quota and determinism hold per cluster") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val got = graft.SparkEntry.queries("v18_cluster_sample")(spark, dir)
      .as[(Long, Long, Long)].collect()
    // independent formulation: rank window over the same shared assignment
    val assign = graft.queries.Similarity
      .sharedKmeansAssign(spark, dir, 8)
      .select($"vec_id", $"cid".cast("bigint").as("cid"))
      .as[(Long, Long)].collect()
    val want = assign.groupBy(_._2).toSeq.flatMap { case (cid, rows) =>
      rows.map(_._1)
        .sortBy(vid => ((vid * 2654435761L) % 4294967296L, vid))
        .take(12).zipWithIndex
        .map { case (vid, i) => (vid, cid, (i + 1).toLong) }
    }
    assert(got.toSet == want.toSet, "aggregator pick != window pick")
    // quota: ≤12 per cluster, ranks contiguous from 1
    got.groupBy(_._2).foreach { case (cid, rows) =>
      assert(rows.length <= 12, s"cluster $cid over quota")
      assert(rows.map(_._3).sorted.toSeq ==
        (1L to rows.length.toLong).toSeq, s"cluster $cid ranks not 1..n")
    }
    // deterministic: a second run is identical
    val again = graft.SparkEntry.queries("v18_cluster_sample")(spark, dir)
      .as[(Long, Long, Long)].collect()
    assert(again.toSet == got.toSet, "sample not reproducible")
  }
}
