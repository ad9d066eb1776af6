package graft

import org.apache.spark.sql.functions._
import graft.operators.{Compactor, Lineage, Skew}

class SkewLineageSpec extends SparkSpec {

  test("salted equi-join equals plain join") {
    import spark.implicits._
    val l = Tables.load(spark, sf0001, "lineitem")
      .select($"l_orderkey", $"l_partkey", $"l_quantity")
    val p = Tables.load(spark, sf0001, "part").select($"p_partkey", $"p_brand")
      .withColumnRenamed("p_partkey", "l_partkey")
    val plain = l.join(p, Seq("l_partkey"))
      .groupBy($"p_brand").agg(round(sum($"l_quantity"), 2).as("q"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val salted = Skew.saltedEquiJoin(l, p, "l_partkey", 8, $"l_orderkey")
      .groupBy($"p_brand").agg(round(sum($"l_quantity"), 2).as("q"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(salted == plain)
  }

  test("salted equi-join keeps rows whose salt source is null") {
    import spark.implicits._
    val fact = Seq((1, Some(10L)), (1, None), (2, Some(20L)), (2, None))
      .toDF("k", "src")
    val dim = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val plain = fact.join(dim, Seq("k")).count()
    val salted = Skew.saltedEquiJoin(fact, dim, "k", 8, $"src").count()
    assert(salted == plain)
    assert(salted == 4)
  }

  test("salted aggregation equals direct aggregation") {
    import spark.implicits._
    val e = Tables.load(spark, sf0001, "events")
    val direct = e.groupBy($"event_type")
      .agg(round(sum($"value"), 2).as("s"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), (r.getDouble(1), r.getLong(2)))).toMap
    val salted = Skew.saltedSumCount(e, "event_type", "value", 16, $"event_id")
      .select($"event_type", round($"sum_value", 2).as("s"), $"n")
      .collect().map(r => (r.getString(0), (r.getDouble(1), r.getLong(2)))).toMap
    assert(salted == direct)
  }

  test("observe metrics report collected counters") {
    import spark.implicits._
    val df = Lineage.observed(
      Tables.load(spark, sf0001, "documents"), "collector", "n_chars")
    // metrics attach to THIS DataFrame's execution — count() would spawn
    // a different QueryExecution with its own (empty) metrics
    val rows = df.collect().length
    val m = df.queryExecution.observedMetrics("collector")
    assert(m.getAs[Long]("collected_records") == rows)
    assert(m.getAs[Long]("collected_bytes") > 0)
  }

  test("flush manifest appends and reads back by run") {
    import spark.implicits._
    val dir = tmpDir("manifest")
    val mf = spark.createDataFrame(Seq((0L, 10L, 1000L), (1L, 7L, 900L)))
      .toDF("bundle_id", "n_records", "total_bytes")
    Lineage.appendFlushManifest(mf, dir.toString, "run1", "/lake/a")
    Lineage.appendFlushManifest(mf, dir.toString, "run2", "/lake/b")
    val back = Lineage.flushedBundles(spark, dir.toString)
    assert(back.count() == 4)
    assert(back.filter($"run_id" === "run2").count() == 2)
  }

  test("merge as-of join equals the join-then-rank form") {
    import spark.implicits._
    import graft.operators.AsOf
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.load(spark, sf0001, "events")
      .filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", unix_micros($"ts".cast("timestamp")).as("lt"))
    val o = Tables.load(spark, sf0001, "orders")
      .select($"o_custkey".as("user_id"), $"o_orderkey",
        unix_micros($"o_orderdate".cast("timestamp")).as("rt"), $"o_totalprice")
    val merged = AsOf.backward(ev, o, "user_id", "lt", "rt", "o_orderkey")
      .select($"event_id", $"o_orderkey")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val w = Window.partitionBy($"event_id").orderBy($"rt".desc, $"o_orderkey".desc)
    val ranked = ev.join(o, Seq("user_id"), "left")
      .filter($"rt".isNull || $"rt" <= $"lt")
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
    // rank form drops left rows whose ONLY candidates were filtered out;
    // recover the left-outer contract with a final left join
    val rankMap = ev.select($"event_id")
      .join(ranked.select($"event_id", $"o_orderkey"), Seq("event_id"), "left")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(merged == rankMap)
    assert(merged.nonEmpty)
    assert(merged.values.exists(_.isDefined))
  }

  test("planned as-of join (custom SparkPlan) equals the cogroup merge form") {
    import spark.implicits._
    import graft.operators.AsOf
    val ev = Tables.load(spark, sf0001, "events")
      .filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", unix_micros($"ts".cast("timestamp")).as("lt"))
    val o = Tables.load(spark, sf0001, "orders")
      .select($"o_custkey", $"o_orderkey",
        unix_micros($"o_orderdate".cast("timestamp")).as("rt"), $"o_totalprice")
    val planned = AsOf.backwardPlanned(ev, o,
      "user_id", "o_custkey", "lt", "rt", "o_orderkey")
    // the custom operator actually plans, with Spark-inserted sort/exchange
    val planStr = planned.queryExecution.executedPlan.toString
    assert(planStr.contains("AsOfJoin"), s"expected AsOfJoinExec in:\n$planStr")
    assert(planStr.contains("Sort"), "EnsureRequirements should insert sorts")
    val got = planned.select($"event_id", $"o_orderkey")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val viaCogroup = AsOf.backward(ev,
      o.withColumnRenamed("o_custkey", "user_id"),
      "user_id", "lt", "rt", "o_orderkey")
      .select($"event_id", $"o_orderkey")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got == viaCogroup)
    assert(got.nonEmpty && got.values.exists(_.isDefined))
  }

  test("binned range join equals plain non-equi join") {
    import spark.implicits._
    import graft.operators.RangeJoin
    val base = lit("1995-01-01").cast("date")
    val o = Tables.load(spark, sf0001, "orders")
    val pts = o.select($"o_orderkey".as("pk"),
      datediff($"o_orderdate", base).cast("long").as("pday"))
    val ivs = o.select($"o_orderkey".as("ik"),
      (datediff($"o_orderdate", base).cast("long") - 15).as("lo"),
      datediff($"o_orderdate", base).cast("long").as("hi"))
    val binned = RangeJoin.pointInInterval(pts, ivs, col("pday"), col("lo"), col("hi"), 7L)
      .select($"pk", $"ik").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = pts.join(ivs, $"pday" >= $"lo" && $"pday" <= $"hi")
      .select($"pk", $"ik").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(binned == plain)
    assert(binned.nonEmpty)
  }

  test("dedup clusters: min-label CC on chain, triangle, and pair") {
    import spark.implicits._
    import graft.operators.Dedup
    // components: chain 1-2-3-4 (rep 1), triangle 10-11-12 (rep 10),
    // pair 20-21 (rep 20); a long chain forces >1 propagation round
    val pairs = Seq((1L,2L),(2L,3L),(3L,4L),(10L,11L),(11L,12L),(10L,12L),(20L,21L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.clusters(pairs, $"doc_a", $"doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L->1L, 2L->1L, 3L->1L, 4L->1L,
      10L->10L, 11L->10L, 12L->10L, 20L->20L, 21L->20L))
  }

  test("dedup clusters: deep chains converge in log rounds, or fail loudly") {
    import spark.implicits._
    import graft.operators.Dedup
    // a 400-link path has diameter 399: pure min propagation would need
    // ~400 rounds, far past the default cap of 50 — converging under the
    // default proves the pointer jump compresses paths logarithmically
    val chain = (0L until 400L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("doc_a", "doc_b")
    // pin the driver round-trip budget: ONE action per CC round (the
    // lazy checkpoint materializes inside the convergence count's job;
    // the eager-checkpoint-then-count shape cost two, plus two more for
    // the eager edges/labels seeds — ~2x the actions for the same
    // rounds). AQE is disabled for the instrumented call ONLY so one
    // action = one job and the bound is deterministic; with AQE on,
    // per-exchange-stage jobs inflate the count ~7x and drown the
    // signal being pinned.
    // restore whatever AQE setting the surrounding suite ran with, not a
    // hardcoded value
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (got, jobs) =
      try countJobs {
        Dedup.clusters(chain, $"doc_a", $"doc_b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    assert(got.size == 400 && got.values.forall(_ == 0L))
    // Observed composition with two-phase CC: the basin-fold count (1),
    // then ONE convergence-count job per round over the HALVED quotient
    // chain (each also materializing that round's lazy checkpoints),
    // plus per-round broadcast-exchange jobs for the tiny test-graph
    // frames and the final compose/collect = 14 observed. The
    // pre-two-phase shape cost 23 (full-graph rounds), and the
    // eager-checkpoint shape before that ~35 — the bound separates all
    // three; modest headroom for a Spark bump adding a broadcast job
    // per round, per ADVICE r7.
    assert(jobs <= 20, s"too many driver round-trips: $jobs jobs")
    // non-convergence must THROW, not return wrong labels silently
    // (driverQuotientEdges = 0 pins the distributed loop — the driver
    // union-find path always converges, so maxRounds is loop-only)
    val ex = intercept[IllegalStateException] {
      Dedup.clusters(chain, $"doc_a", $"doc_b", maxRounds = 2,
        driverQuotientEdges = 0L).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("dedup clusters: broadcast and shuffle basin-map plans are identical across the threshold") {
    import spark.implicits._
    import graft.operators.Dedup
    // the 2M-vertex default always broadcasts at test scale, so the
    // shuffle side of the boundary would otherwise ship untested. Force
    // it with broadcastVertices = 0 (every vertex count exceeds it) on a
    // graph mixing a chain, a clique, intra-basin-only components, and
    // singleton-free asymmetric ids — both plans must label identically.
    val pairs = ((0L until 100L).sliding(2).map(s => (s(0), s(1))).toSeq ++
      Seq((200L, 201L), (201L, 202L), (200L, 202L), (300L, 999L)))
      .toDF("doc_a", "doc_b")
    // three routes, one answer: the default (driver union-find over the
    // quotient residue), the broadcast distributed loop (driver path
    // disabled), and the shuffle distributed loop (both thresholds off)
    val viaDriver = Dedup.clusters(pairs, $"doc_a", $"doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaBroadcast = Dedup.clusters(pairs, $"doc_a", $"doc_b",
        driverQuotientEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaShuffle = Dedup.clusters(pairs, $"doc_a", $"doc_b",
        broadcastVertices = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaBroadcast == viaDriver,
      "broadcast-loop labels diverged from the driver union-find")
    assert(viaShuffle == viaDriver,
      "shuffle-side basin plan diverged from the driver union-find")
    assert(viaDriver.size == 105 &&
      viaDriver.count(_._2 == 0L) == 100 && viaDriver(999L) == 300L)
  }

  test("dedup clusters: intermediate checkpoint blocks are retired at exit") {
    import spark.implicits._
    import graft.operators.Dedup
    // localCheckpoint blocks live OUTSIDE the cacheManager, so nothing
    // frees a round's retired frames automatically — before the exit
    // cleanup, every clusters() call left rounds x edge-sized block
    // sets pinned until ContextCleaner GC (a second same-JVM d10 run at
    // the 100x corpus went 17 s -> 201 s under the accumulated storage
    // pressure). Pin the contract: after clusters() returns, at most
    // the two block sets the result still reads (basins + final
    // labels) were added to the persistent-RDD registry, and the
    // result remains fully readable (its inputs are materialized, not
    // lineage-dependent on the retired blocks).
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // a 400-link chain forces multiple quotient rounds, so several
    // staged/contracted generations exist to retire
    val chain = (0L until 400L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("doc_a", "doc_b")
    val res = Dedup.clusters(chain, $"doc_a", $"doc_b")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 2,
      s"clusters() left ${leaked.size} persistent RDDs behind " +
      "(expected <= 2: basins + final labels)")
    val got = res.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 400 && got.values.forall(_ == 0L),
      "result not readable/correct after block retirement")
  }

  test("dedup clusters: the non-convergence ERROR path also retires its blocks") {
    import spark.implicits._
    import graft.operators.Dedup
    // A caller may catch the non-convergence throw and keep the
    // session — if only the success path retired blocks, that pattern
    // would re-open the storage-pressure leak the cleanup exists for.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val chain = (0L until 400L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("doc_a", "doc_b")
    // driverQuotientEdges = 0 pins the distributed loop (the driver
    // union-find always converges, so the error path is loop-only)
    intercept[IllegalStateException] {
      Dedup.clusters(chain, $"doc_a", $"doc_b", maxRounds = 1,
        driverQuotientEdges = 0L)
    }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"error path left ${leaked.size} persistent RDDs behind")
  }

  test("embeddingPairs: hot-cell split preserves the exact pair set") {
    import spark.implicits._
    import graft.operators.Dedup
    // ONE degenerate cell holding every vector — the worst case the
    // skew guard exists for
    val e = Tables.load(spark, sf0001, "embeddings")
      .select($"vec_id", $"embedding", lit(0).as("cell"))
      .limit(300)
    def run(cap: Int) =
      Dedup.embeddingPairs(e, $"vec_id", $"embedding", $"cell",
          minCos = -1.0, cellCap = cap) // keep ALL pairs: exactness check
        .select($"id_a", $"id_b", $"cos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val unguarded = run(Int.MaxValue) // g=1: the original single-task plan
    val guarded = run(40)             // 300 rows -> 8 hash sub-groups
    assert(guarded == unguarded)
    assert(guarded.nonEmpty)
    assert(guarded.forall { case (a, b, _) => a < b })
    // the split actually bounds per-key input: no hash sub-group of the
    // hot cell holds more than ~2x the cap
    val maxGroup = e.select(pmod(xxhash64($"vec_id"), lit(8)).as("g"))
      .groupBy($"g").count().agg(max($"count")).collect()(0).getLong(0)
    assert(maxGroup <= 80, s"hash groups badly unbalanced: $maxGroup")
  }

  test("Caches.release drains operator intermediates; results still recompute") {
    import spark.implicits._
    import graft.operators.{Caches, Dedup}
    Caches.release()
    val docs = Tables.load(spark, sf0001, "documents")
    val pairs = Dedup.jaccardPairs(docs, $"doc_id", $"text")
    val before = pairs.count()
    assert(Caches.liveCount > 0, "operators should register their persists")
    Caches.release()
    assert(Caches.liveCount == 0)
    // unpersisted plan recomputes to the same answer
    assert(pairs.count() == before)
  }

  test("cache registry is LRU-bounded: churning many corpora evicts, unpersists, stays correct") {
    import spark.implicits._
    import graft.operators.{Caches, Dedup}
    Caches.release()
    val prevCap = Caches.capacity
    Caches.setCapacity(4)
    // baseline AFTER draining the registry: what remains is other
    // operators' localCheckpoints etc., not ours to count
    val basePersisted = spark.sparkContext.getPersistentRDDs.size
    try {
      // 10 DISTINCT tiny corpora (distinct literals -> distinct plan
      // hashes): each minhash pass persists a shingle table + band keys
      // + candidates; unbounded, that is 30 cached frames
      val results = (1 to 10).map { c =>
        val docs = (1 to 8).map(i =>
          (i.toLong, s"corpus $c doc $i the quick brown fox jumps over dog $i"))
          .toDF("doc_id", "text")
        c -> Dedup.minhashCandidates(docs, $"doc_id", $"text").count()
      }
      assert(Caches.liveCount <= 4,
        s"registry exceeded its cap: ${Caches.liveCount}")
      // eviction really unpersisted: the net growth in Spark's cached-RDD
      // registry is bounded by the cap, not by the number of corpora
      val persisted = spark.sparkContext.getPersistentRDDs.size - basePersisted
      assert(persisted <= 8, s"$persisted persisted RDDs leaked past the cap")
      // evicted memo entries rebuild correctly (same corpus, same answer)
      val docs3 = (1 to 8).map(i =>
        (i.toLong, s"corpus 3 doc $i the quick brown fox jumps over dog $i"))
        .toDF("doc_id", "text")
      assert(Dedup.minhashCandidates(docs3, $"doc_id", $"text").count()
        == results.toMap.apply(3))
    } finally {
      Caches.setCapacity(prevCap)
      Caches.release()
    }
  }

  test("Caches LRU is coherent under concurrent track/memo at a tiny cap") {
    import spark.implicits._
    import graft.operators.Caches
    Caches.release()
    val prevCap = Caches.capacity
    Caches.setCapacity(2)
    try {
      // a small shared frame population hammered from two threads forces
      // the race the locked eviction protocol closes: victim selection,
      // unpersist, and a concurrent re-registration of the SAME frame
      // must serialize, or an already-unpersisted victim gets resurrected
      // into the map (registered-but-unpersisted). Memo calls run on
      // frames of their own, so each frame sits under one key only.
      val frames = (1 to 6).map(i => Seq((i.toLong, s"v$i")).toDF("id", "v"))
      val memoFrames = (1 to 6).map(i => Seq((i.toLong, s"m$i")).toDF("id", "v"))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val storms = (0 until 2).map { t =>
        pool.submit(new Runnable {
          def run(): Unit =
            (0 until 200).foreach { i =>
              val j = (i * 2 + t) % frames.length
              if ((i + t) % 3 == 0) Caches.memo(("storm", j))(memoFrames(j))
              else Caches.track(frames(j))
            }
        })
      }
      storms.foreach(_.get())
      pool.shutdown()
      assert(Caches.liveCount <= 2, s"cap violated: ${Caches.liveCount}")
      Caches.trackedFrames.foreach { df =>
        assert(df.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
          "tracked-but-unpersisted frame survived the concurrent storm")
      }
    } finally {
      Caches.setCapacity(prevCap)
      Caches.release()
    }
  }

  test("gzip text bundles round-trip (W2)") {
    implicit val s = spark
    import java.nio.file.{Files, Paths}
    val in = tmpDir("gz_in"); val out = tmpDir("gz_out")
    (1 to 12).foreach { i =>
      val p = Paths.get(in.toString, s"r$i.json")
      Files.write(p, s"""{"i":$i}""".getBytes("UTF-8"))
      p.toFile.setLastModified(1700000000000L + i * 1000L)
    }
    val mf = Compactor.compactToText(in.toString, out.toString, 64L, Some("gzip"))
    assert(mf.agg(sum("n_records")).collect()(0).getLong(0) == 12)
    // .gz part files decode transparently on read
    val back = spark.read.text(out.toString).count()
    assert(back == 12)
    val gzFiles = new java.io.File(out.toString).listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles()).filter(_.getName.endsWith(".gz"))
    assert(gzFiles.nonEmpty)
  }

  test("W2 compressed-size targeting sizes bundles by estimated ratio") {
    implicit val s = spark
    import java.nio.file.{Files, Paths}
    val in = tmpDir("gzt_in"); val outU = tmpDir("gzt_outU"); val outC = tmpDir("gzt_outC")
    // compressible-but-realistic corpus (~2.5 KB per file, gzips ~10x;
    // per-line counters keep it inside the estimator's 50x clamp)
    (1 to 40).foreach { i =>
      val p = Paths.get(in.toString, f"r$i%02d.txt")
      val body = s"record $i: " +
        (1 to 160).map(j => s"lorem ipsum $j").mkString(" ")
      Files.write(p, body.getBytes("UTF-8"))
      p.toFile.setLastModified(1700000000000L + i * 1000L)
    }
    val target = 2048L
    val mfU = Compactor.compactToText(in.toString, outU.toString, target,
      Some("gzip"))
    val mfC = Compactor.compactToText(in.toString, outC.toString, target,
      Some("gzip"), targetCompressed = true)
    // uncompressed targeting: ~1 file per 2 KB bundle -> ~40 bundles of
    // ~100-byte gz files. Compressed targeting must pack FAR more
    // uncompressed bytes per bundle (the ratio estimate applied)
    val bundlesU = mfU.count(); val bundlesC = mfC.count()
    assert(bundlesC * 4 <= bundlesU,
      s"ratio not applied: $bundlesC vs $bundlesU bundles")
    // and the written .gz parts actually land near the compressed target
    val gzSizes = new java.io.File(outC.toString).listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles())
      .filter(_.getName.endsWith(".gz")).map(_.length())
    assert(gzSizes.nonEmpty)
    // all but the (possibly tiny) last bundle within a loose factor of
    // the target — compression estimation is approximate by nature
    val full = gzSizes.sorted.reverse.dropRight(1)
    full.foreach(sz => assert(sz >= target / 4 && sz <= target * 4,
      s"gz bundle size $sz far from compressed target $target " +
      s"(all: ${gzSizes.mkString(",")})"))
  }

  test("ORC lake reads back with pushdown (source breadth)") {
    import spark.implicits._
    val dir = tmpDir("orc_lake")
    Tables.load(spark, sf0001, "customer")
      .select($"c_custkey", $"c_name", $"c_acctbal")
      .write.mode("overwrite").orc(dir.toString)
    val got = graft.operators.Readers.orcLake(spark, dir.toString)
      .filter($"c_custkey" < 50).select($"c_custkey", $"c_acctbal")
    assert(got.count() == 50)
    val scan = got.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(c_custkey), LessThan(c_custkey,50)]"),
      s"ORC pushdown missing:\n$scan")
  }
}
