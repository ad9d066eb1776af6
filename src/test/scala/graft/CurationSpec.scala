package graft

import org.apache.spark.sql.functions._
import graft.operators.{Caches, Dedup}

/** Constructed-corpus semantics for the training-data curation
  * operators added in round 7 (d08/t10/t11 carry full DuckDB oracles at
  * SF scale; these pin the exact contracts on corpora built to hit the
  * edges).
  */
class CurationSpec extends SparkSpec {

  test("temperatureMix: p^alpha targets, lowest-hash selection, bucket independence") {
    import spark.implicits._
    import graft.operators.Curation
    // 80/16/4 skew: p = .8/.16/.04 -> sqrt = .894427/.4/.2 (round-6),
    // norm = 1.494427, targets = round(50*w/norm) = 30/13/7 (sum 50)
    val ids = Map("a" -> (0L until 80L), "b" -> (100L until 116L),
      "c" -> (200L until 204L))
    val docs = ids.toSeq.flatMap { case (st, r) => r.map(i => (i, st)) }
      .toDF("doc_id", "stratum")
    def run(buckets: Int) = Curation.temperatureMix(docs, $"stratum",
        $"doc_id", alpha = 0.5, budget = 50, buckets = buckets)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val rows = run(buckets = 0)
    val targets = rows.map(t => t._2 -> t._4).toMap
    assert(targets == Map("a" -> 30L, "b" -> 13L, "c" -> 7L), s"got $targets")
    assert(rows.map(t => t._2 -> t._3).toMap ==
      Map("a" -> 80L, "b" -> 16L, "c" -> 4L))
    // selection is exactly each stratum's `target` lowest-md5 ids,
    // recomputed independently of Spark
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = ids.flatMap { case (st, r) =>
      r.toSeq.sortBy(i => (md5hex(i.toString), i))
        .take(targets(st).toInt).map(i => (i, st))
    }.toSet
    assert(rows.map(t => (t._1, t._2)).toSet == expected)
    // prefix-sum bucketing is a balance choice, never a result choice
    assert(run(buckets = 1).toSet == rows.toSet)
    assert(run(buckets = 7).toSet == rows.toSet)
  }

  test("temperatureMix: alpha=1 is proportional; a vanishing stratum keeps one doc") {
    import spark.implicits._
    import graft.operators.Curation
    val docs = ((0L until 99L).map(i => (i, "big")) ++ Seq((500L, "tiny")))
      .toDF("doc_id", "stratum")
    // p = .99/.01, alpha 1 -> targets round(10*.99)=10 / round(.1)=0,
    // floored to 1: the mix never silently drops a stratum
    val t = Curation.temperatureMix(docs, $"stratum", $"doc_id",
        alpha = 1.0, budget = 10)
      .collect().map(r => r.getString(1) -> r.getLong(3)).toMap
    assert(t == Map("big" -> 10L, "tiny" -> 1L), s"got $t")
  }

  test("temperatureMix: a NULL stratum refuses loudly (engine-divergence guard)") {
    import spark.implicits._
    import graft.operators.Curation
    // Spark's null-safe join would give NULL its own stratum while a
    // SQL USING join drops it — the in-plan guard makes both engines
    // see the same population or neither run
    val docs = Seq((0L, Some("en")), (1L, Some("en")), (2L, None))
      .toDF("doc_id", "stratum")
    val ex = intercept[Exception] {
      Curation.temperatureMix(docs, $"stratum", $"doc_id",
        alpha = 0.5, budget = 2).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("NULL stratum")), s"got $ex")
    // non-null corpora are untouched by the guard
    val ok = Curation.temperatureMix(docs.filter($"stratum".isNotNull),
      $"stratum", $"doc_id", alpha = 0.5, budget = 2)
    assert(ok.count() == 2)
  }

  test("dsirSelect ranks target-resembling docs above novel-bigram docs") {
    import spark.implicits._
    import graft.operators.Curation
    // target docs 0/1 define the bigram distribution; doc 10 shares it,
    // doc 11 is bigram-novel, doc 12 has <2 tokens (no features).
    val docs = Seq(
      (0L, "alpha beta gamma alpha beta", true),
      (1L, "beta gamma alpha beta gamma", true),
      (10L, "alpha beta gamma alpha beta gamma", false),
      (11L, "zeta eta theta iota kappa lambda", false),
      (12L, "one", false)
    ).toDF("doc_id", "text", "is_t")
    def run(buckets: Int) = Curation.dsirSelect(docs, $"doc_id", $"text",
        $"is_t", budget = 10, buckets = buckets)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val w = run(4096)
    assert(w.contains(10L) && w.contains(11L))
    assert(w(10L) > w(11L),
      s"target-resembling doc must outweigh the novel one: $w")
    assert(!w.contains(12L), "a doc with no bigrams has no weight")
    // the ranking survives a different bucket count (collisions move
    // weights, not the clear separation)
    val w2 = run(512)
    assert(w2(10L) > w2(11L))
    // budget cut: top-1 by (weight desc, id) — one of the target-heavy
    // docs or doc 10, never the novel doc 11
    val top1 = Curation.dsirSelect(docs, $"doc_id", $"text", $"is_t",
      budget = 1).collect().map(_.getLong(0)).toSeq
    assert(top1.length == 1 && top1.head != 11L && top1.head != 12L)
    // deterministic across runs
    assert(run(4096) == w)
  }

  test("dsir: rank cut, persisted feature table, and day-append all " +
       "match the inline TakeOrdered form") {
    import spark.implicits._
    import graft.operators.{Curation, DsirIndex}
    val docs = Tables.load(spark, sf0001, "documents")
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pred = $"source" === "src1"
    val inline = rows(Curation.dsirSelect(docs, $"doc_id", $"text", pred,
      budget = 50))
    // the PrefixSum rank filter is the TakeOrdered cut, distributed:
    // same (weight desc, id asc) total order, same top-50
    assert(rows(Curation.dsirSelect(docs, $"doc_id", $"text", pred,
      budget = 50, viaRank = Some(true))) == inline,
      "distributed rank cut must equal TakeOrdered")
    // persisted feature table: base index, then the day-N append —
    // selection through the index must equal the inline form over the
    // same corpus at each point
    val dir = java.nio.file.Files.createTempDirectory("graft-dsir-spec").toString
    val base = docs.filter($"doc_id" % 5 =!= 4)
    val delta = docs.filter($"doc_id" % 5 === 4)
    DsirIndex.write(dir, base, $"doc_id", $"text")
    val targets = docs.filter(pred).select($"doc_id")
    assert(rows(Curation.dsirSelectIndexed(spark, dir, targets, budget = 50))
      == rows(Curation.dsirSelect(base, $"doc_id", $"text", pred, budget = 50)),
      "indexed selection must equal inline over the base corpus")
    DsirIndex.append(dir, delta, $"doc_id", $"text")
    assert(rows(Curation.dsirSelectIndexed(spark, dir, targets, budget = 50))
      == inline,
      "after the delta append, indexed selection must equal inline over everything")
    // and the rank path composes with the index
    assert(rows(Curation.dsirSelectIndexed(spark, dir, targets, budget = 50,
      viaRank = Some(true))) == inline)
  }

  test("DsirIndex.loadOnce: hit while the on-disk content is unchanged, " +
       "miss after an append (never served stale)") {
    import spark.implicits._
    import graft.operators.DsirIndex
    val dir = java.nio.file.Files.createTempDirectory("graft-dsir-lo").toString
    val base = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    DsirIndex.write(dir, base, $"doc_id", $"text")
    val l1 = DsirIndex.loadOnce(spark, dir)
    assert(DsirIndex.loadOnce(spark, dir) eq l1,
      "unchanged index must memo-hit (same load instance)")
    // a second session gets its own load, bound to that session
    val s2 = spark.newSession()
    val o1 = DsirIndex.loadOnce(s2, dir)
    assert(o1._1.sparkSession eq s2,
      "a second session must not be served the first session's frame")
    DsirIndex.append(dir,
      Seq((3L, "eta theta iota")).toDF("doc_id", "text"), $"doc_id", $"text")
    val l2 = DsirIndex.loadOnce(spark, dir)
    assert(!(l2 eq l1), "append must roll the memo")
    assert(!(DsirIndex.loadOnce(s2, dir) eq o1),
      "append must roll the other session's entry too")
    assert(l2._1.select($"id").distinct().collect().map(_.getLong(0)).toSet
      == Set(1L, 2L, 3L), "re-load must see the appended rows")
  }

  test("DsirIndex.loadOnce: out-of-band features/ appends replace the path's memo entry") {
    import spark.implicits._
    import graft.operators.DsirIndex
    val dir = java.nio.file.Files.createTempDirectory("graft-dsir-oob").toString
    DsirIndex.write(dir, Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text"), $"doc_id", $"text")
    var prev = DsirIndex.loadOnce(spark, dir)
    for (i <- 1 to 5) {
      // a plain parquet append by another writer — no DsirIndex writer
      // runs, so only the fingerprint can roll the memo
      DsirIndex.features(Seq((10L + i, s"kappa lambda mu $i")).toDF("doc_id", "text"),
          $"doc_id", $"text", prev._2.buckets)
        .write.mode("append").parquet(s"$dir/features")
      val cur = DsirIndex.loadOnce(spark, dir)
      assert(!(cur eq prev), s"append $i must reload the index")
      prev = cur
    }
    assert(DsirIndex.loadedIxs.liveCount(dir) == 1,
      "5 appends must leave one live entry for the path")
    assert(prev._1.select($"id").distinct().count() == 7)
  }

  test("writeOnce keys on the backing files: an in-place overwrite of the " +
       "source path is a cache miss, an identical re-read is a hit") {
    import spark.implicits._
    import graft.operators.DsirIndex
    val src = java.nio.file.Files.createTempDirectory("graft-bo-src").toString
    Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(src)
    def ix() = DsirIndex.writeOnce(
      spark.read.parquet(src), $"doc_id", $"text")
    val d1 = ix()
    assert(ix() == d1, "identical source must memo-hit")
    // overwrite the SAME path with different content: the semantic
    // hash of the plan is unchanged, but the part files are new — the
    // stale index must not be served (ADVICE r18)
    Seq((1L, "eta theta iota"), (3L, "kappa lambda mu"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(src)
    val d2 = ix()
    assert(d2 != d1, "overwritten source served a stale index")
    val ids = spark.read.parquet(s"$d2/features")
      .select($"id").distinct().collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L))
  }

  test("t24 intra-doc dedup strips repeated chunks, keeps first occurrence, preserves order") {
    import spark.implicits._
    // doc 0: chunk A repeated 3x around chunk B -> keep first A + B, in order;
    // doc 1: no repeats -> identity; doc 2: token-less -> 0 chunks, empty text.
    // 8-word chunks: craft texts whose chunk boundaries align exactly.
    val a = "alpha beta gamma delta epsilon zeta eta theta"
    val b = "one two three four five six seven eight"
    val docs = Seq(
      (0L, s"$a $b $a $a"),
      (1L, s"$b $a"),
      (2L, "... !!! ---")
    ).toDF("doc_id", "text")
    val res = graft.operators.Curation
      .intraDocDedup(docs, $"doc_id", $"text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(res(0L) == ((4L, 2L, s"$a $b")), s"got ${res(0L)}")
    assert(res(1L) == ((2L, 2L, s"$b $a")), s"got ${res(1L)}")
    assert(res(2L) == ((0L, 0L, "")), s"got ${res(2L)}")
  }

  test("decontaminate flags exactly the docs with >= minHits distinct shared shingles") {
    import spark.implicits._
    Caches.release()
    // benchmark doc 0: "alpha beta gamma delta epsilon zeta" -> 3-gram
    // shingles {a b g, b g d, g d e, d e z}
    // doc 1: full copy (4 shared shingles)
    // doc 2: shares exactly 2 shingles (prefix overlap)
    // doc 3: disjoint
    // doc 4: shares 4 shingles via repetition — hits counted on DISTINCT
    //        shingles, so repeats must not inflate the count
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta nope nope2"),
      (3L, "one two three four five six"),
      (4L, "alpha beta gamma alpha beta gamma alpha beta gamma delta")
    ).toDF("doc_id", "text")
    def run(minHits: Long) =
      Dedup.decontaminate(docs, $"doc_id", $"text",
          isBench = $"doc_id" === 0, shingleN = 3, minHits = minHits)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val atLeast2 = run(2)
    // doc 2 shares {a b g, b g d} = 2; doc 4's distinct shingles include
    // {a b g, b g d, g d -}? recompute: doc 4 trigrams over
    // [alpha beta gamma alpha beta gamma alpha beta gamma delta]:
    // distinct = {a b g, b g a, g a b, b g d} -> shared with bench =
    // {a b g, b g d} = 2
    assert(atLeast2 == Map(1L -> 4L, 2L -> 2L, 4L -> 2L), s"got $atLeast2")
    val atLeast3 = run(3)
    assert(atLeast3 == Map(1L -> 4L), s"got $atLeast3")
    // the benchmark slice itself is never flagged
    assert(!atLeast2.contains(0L))
    Caches.release()
  }

  test("decontaminate: broadcast and shuffle blocklist plans are row-identical") {
    // the r12 broadcast hint is a PLAN choice, not a semantics choice —
    // same contract as the Skew/clusters strategy knobs: both paths
    // must produce the same rows (the opt-out exists for genuinely
    // unbounded blocklists, where the shuffle join is the right plan)
    import spark.implicits._
    Caches.release()
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    def rows(bl: Boolean) =
      Dedup.decontaminate(docs, $"doc_id", $"text",
          isBench = $"doc_id" % 29 === 0, minHits = 5,
          broadcastBlocklist = bl)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val b = rows(true)
    assert(b.nonEmpty, "fixture must flag something")
    assert(b == rows(false))
    Caches.release()
  }

  test("stratified hash sample: deterministic, and per-stratum rates track thresholds") {
    import spark.implicits._
    // the exact t10 rule over a large id range: stratum id%4, keep iff
    // md5-prefix < per-stratum threshold (1/8, 1/4, 3/8, 1/2)
    val n = 40000L
    val docs = spark.range(n).select($"id".as("doc_id"))
    val h = substring(md5($"doc_id".cast("string")), 1, 8)
    val thr = when($"doc_id" % 4 === 0, "20000000")
      .when($"doc_id" % 4 === 1, "40000000")
      .when($"doc_id" % 4 === 2, "60000000")
      .otherwise("80000000")
    val kept = docs.select($"doc_id", ($"doc_id" % 4).as("stratum"), h.as("h"))
      .filter($"h" < thr)
    val counts = kept.groupBy($"stratum").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val perStratum = n / 4.0
    val rates = Map(0L -> 0.125, 1L -> 0.25, 2L -> 0.375, 3L -> 0.5)
    rates.foreach { case (s, rate) =>
      val got = counts.getOrElse(s, 0L) / perStratum
      assert(math.abs(got - rate) < 0.02,
        s"stratum $s: kept fraction $got vs rate $rate")
    }
    // idempotence: the same rule re-applied keeps the identical set
    val again = docs.select($"doc_id", ($"doc_id" % 4).as("stratum"), h.as("h"))
      .filter($"h" < thr)
    assert(kept.select("doc_id").except(again.select("doc_id")).isEmpty)
    assert(again.select("doc_id").except(kept.select("doc_id")).isEmpty)
  }

  test("token-budget pack never exceeds the budget and takes quality-first") {
    import spark.implicits._
    import graft.operators.Curation
    // one stratum, controlled qualities: packing must take docs in
    // quality-desc order and stop before the budget breaks
    val docs = Seq(
      (1L, 100L, 0.9), (2L, 150L, 0.8), (3L, 100L, 0.7), (4L, 60L, 0.6),
      (5L, 100L, 0.5)
    ).toDF("doc_id", "n_tok", "quality")
    val packed = Curation.packByBudget(docs, lit(0), $"quality",
        Seq($"doc_id".asc), $"n_tok", 400L)
      .collect().map(_.getLong(0)).toSet
    // 100 + 150 + 100 = 350 fits; +60 = 410 breaks; doc 4/5 are out even
    // though doc 4 alone would fit — the contract is prefix-of-ranking,
    // not knapsack (deterministic, no iteration)
    assert(packed == Set(1L, 2L, 3L))
  }

  test("packByBudget packs null-stratum rows as their own stratum, never drops them") {
    import spark.implicits._
    import graft.operators.Curation
    // phase 2's groupBy and the phase-3 window both put NULL strata in
    // one ordinary group; the offsets join must agree (<=>) — a plain
    // equi-join would silently drop every null-stratum row
    val docs = Seq(
      (1L, Some("web"),  100L, 0.9), (2L, Some("web"), 100L, 0.8),
      (3L, None,         100L, 0.9), (4L, None,        100L, 0.8),
      (5L, None,         100L, 0.7), (6L, Some("code"), 50L, 0.5)
    ).toDF("doc_id", "stratum", "n_tok", "quality")
    def run(buckets: Int) =
      Curation.packByBudget(docs, $"stratum", $"quality",
          Seq($"doc_id".asc), $"n_tok", 200L, buckets = buckets)
        .select($"doc_id").collect().map(_.getLong(0)).toSet
    // null stratum gets its OWN 200-token budget: docs 3,4 fit, 5 breaks
    val expected = Set(1L, 2L, 3L, 4L, 6L)
    assert(run(1) == expected, "single-bucket plan dropped/mispacked null strata")
    assert(run(8) == expected, "bucketed plan dropped/mispacked null strata")
  }

  test("t15 segment dedup: token-less docs emit no chunks and never cross-match") {
    import spark.implicits._
    // sequence(0, nChunks-1) with nChunks=0 would default to step -1 and
    // yield [0, -1] — a phantom md5("") chunk that (a) diverges from the
    // oracle (DuckDB's range(0,0) is empty) and (b) makes every pair of
    // token-less docs "share" a chunk and get flagged. Pin the guard.
    val dir = tmpDir("t15-empty").getAbsolutePath
    Seq(
      (1L, "",        "web"),   // zero tokens
      (2L, "... !!!", "web"),   // punctuation-only -> zero tokens
      (3L, "alpha beta gamma delta epsilon zeta eta theta", "web"),
      (4L, "alpha beta gamma delta epsilon zeta eta theta", "web"),
      (5L, "one two three four five six seven eight", "web")
    ).toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("t15_segment_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    // token-less docs produce no chunk rows, hence no output row at all —
    // exactly the oracle's shape — and in particular are never flagged
    assert(!out.contains(1L) && !out.contains(2L), s"phantom rows: $out")
    // the genuine full-copy pair IS flagged; the unique doc is not
    assert(out == Map(3L -> true, 4L -> true, 5L -> false), s"got $out")
  }

  test("packByBudget is bucket-count independent, including under heavy stratum skew") {
    import spark.implicits._
    import graft.operators.Curation
    // 4,000 docs, 90% in stratum 0 (the hot-domain shape), adversarial
    // quality ties (only 40 distinct qualities, so runs of tied docs
    // straddle any bucket boundary) — results must be IDENTICAL at 1,
    // 4 and 256 range buckets because offsets compose exactly for any
    // boundaries; only balance may differ
    val docs = spark.range(4000).select(
      $"id".as("doc_id"),
      when($"id" % 10 < 9, lit(0L)).otherwise($"id" % 3 + 1).as("stratum"),
      ($"id" % 97 + 5).cast("long").as("n_tok"),
      round(($"id" % 40).cast("double") / 40.0, 6).as("quality"))
    def run(buckets: Int) =
      Curation.packByBudget(docs, $"stratum", $"quality",
          Seq($"doc_id".asc), $"n_tok", 5000L, buckets = buckets)
        .select($"doc_id", $"stratum", $"cum_tok")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val one = run(1)       // degenerate single-window plan (the oracle shape)
    val four = run(4)
    val many = run(256)    // more buckets than distinct qualities
    assert(four == one, "4-bucket result diverged from the single-window plan")
    assert(many == one, "256-bucket result diverged from the single-window plan")
    // static known-range boundaries (uniform grid, no quantile pass)
    // must agree with the quantile boundaries: boundaries only move
    // rows between buckets, never change the prefix sums
    val static = Curation.packByBudget(docs, $"stratum", $"quality",
        Seq($"doc_id".asc), $"n_tok", 5000L, buckets = 16,
        qualityBounds = Some((0.0, 1.0)))
      .select($"doc_id", $"stratum", $"cum_tok")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(static == one, "static-bounds result diverged")
    // null qualities sort last globally (desc NULLS LAST); bucketing
    // must agree — a null-keyed row in the top bucket would carry a
    // too-small running total. Exercised at 1 vs many buckets.
    val withNulls = docs.withColumn("quality",
      when($"doc_id" % 7 === 0, lit(null).cast("double")).otherwise($"quality"))
    def runN(buckets: Int) =
      Curation.packByBudget(withNulls, $"stratum", $"quality",
          Seq($"doc_id".asc), $"n_tok", 5000L, buckets = buckets)
        .select($"doc_id", $"stratum", $"cum_tok")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(runN(64) == runN(1), "null-quality bucketing diverged from the single-window order")
    assert(one.nonEmpty)
    // every stratum respects its own budget independently
    val byStratum = one.groupBy(_._2).view.mapValues(_.map(_._3).max)
    byStratum.foreach { case (st, maxCum) =>
      assert(maxCum <= 5000L, s"stratum $st exceeded the budget: $maxCum")
    }
  }

  test("leakageSafeSplit: clusters are atomic across the split; fractions track trainBuckets") {
    import spark.implicits._
    import graft.operators.Curation
    Caches.release()
    val docs = Tables.load(spark, sf0001, "documents").select($"doc_id", $"text")
    val out = Curation.leakageSafeSplit(docs, $"doc_id", $"text",
      trainBuckets = 230).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.length == docs.count())
    // the invariant that IS the operator: one split value per rep —
    // near-dup clusters can never straddle train/val
    val splitsPerRep = out.groupBy(_._2).view.mapValues(_.map(_._3).toSet)
    assert(splitsPerRep.values.forall(_.size == 1),
      "a cluster straddled the split")
    // the fixture has real near-dup clusters, so the invariant bites:
    // some rep must own >1 doc
    assert(out.groupBy(_._2).exists(_._2.length > 1),
      "fixture has no multi-doc cluster — the atomicity case is vacuous")
    // both sides populated, and train tracks 230/256 loosely (the
    // cluster-level hash is uniform; clusters are few hundred here)
    val train = out.count(_._3 == "train").toDouble / out.length
    assert(train > 0.75 && train < 0.97, s"train fraction off: $train")
    // determinism: a doc's split is a pure function of its rep
    val again = Curation.leakageSafeSplit(docs, $"doc_id", $"text",
      trainBuckets = 230).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(again.sorted.sameElements(out.sorted))
  }
}
