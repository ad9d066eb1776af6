package graft

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.operators.{Compactor, CorpusPipeline, IncrementalPipeline, Par}
import graft.operators.IncrementalPipeline.Params

/** [[graft.operators.Par]]: the fork-join policy (unit cases, no Spark
  * session), the guarantee it exists for (every job a library path
  * forks carries the caller's job group and scheduler pool), and a
  * source scan that keeps it the only place starting threads for Spark
  * work.
  */
class ParSpec extends SparkSpec {

  test("a scope waits for a slow fork when the body throws, and rethrows the body's error") {
    val done = new AtomicBoolean
    val e = intercept[IllegalStateException] {
      Par.scope { s =>
        s.fork { Thread.sleep(300); done.set(true) }
        throw new IllegalStateException("body")
      }
    }
    assert(e.getMessage == "body")
    assert(done.get, "the scope returned before its fork finished")
  }

  test("a failing fork surfaces only after its siblings finish") {
    val sibling = new AtomicBoolean
    val e = intercept[IllegalArgumentException] {
      Par.scope { s =>
        s.fork(throw new IllegalArgumentException("fork"))
        s.fork { Thread.sleep(300); sibling.set(true) }
      }
    }
    assert(e.getMessage == "fork" && sibling.get)

    val later = new AtomicBoolean
    val e2 = intercept[IllegalArgumentException] {
      Par.all(Seq(
        () => throw new IllegalArgumentException("first"),
        () => { Thread.sleep(300); later.set(true) },
        () => throw new IllegalArgumentException("third")), width = 2)
    }
    assert(e2.getMessage == "first" && later.get,
      "all rethrows the first failed job in order, after every job ran")
  }

  test("all preserves result order and never runs more than width jobs at once") {
    val running = new AtomicInteger
    val peak = new AtomicInteger
    val out = Par.all((0 until 12).map { i => () =>
      peak.accumulateAndGet(running.incrementAndGet(), math.max)
      Thread.sleep(50 + (12 - i) * 5)
      running.decrementAndGet()
      i * i
    }, width = 3)
    assert(out == (0 until 12).map(i => i * i))
    assert(peak.get == 3, s"peak concurrency ${peak.get}, width 3")
  }

  test("forked jobs carry the caller's job group and scheduler pool") {
    import spark.implicits._
    val sc = spark.sparkContext
    val (group, pool) = ("par-caller", "par-caller-pool")
    val docs = Tables.load(spark, sf0001, "documents").select($"doc_id", $"text")
    val mx = docs.agg(max($"doc_id")).collect()(0).getLong(0)
    val bench = col("doc_id") % 101 === 0
    val delta = docs.filter($"doc_id" > mx * 3 / 5)
    val dir = tmpDir("par-incpipe").toString
    val lake = Files.createTempDirectory("par-maint").toString
    (0 until 4096).map(i => ((i * 7919) % 64, (i * 104729) % 64, i.toLong, s"d${i % 2}"))
      .toDF("x", "y", "id", "day").repartition(4)
      .write.mode("overwrite").partitionBy("day").parquet(lake)

    sc.setJobGroup(group, "caller")
    sc.setLocalProperty("spark.scheduler.pool", pool)
    val (maintained, props) =
      try jobsDuring {
        IncrementalPipeline.bootstrap(dir, docs.filter($"doc_id" <= mx * 3 / 5), bench,
          Params(1000000L, split = Some(CorpusPipeline.SplitCfg())))
        // a retro day: its new bench keys run the keys-table probe
        IncrementalPipeline.runIncremental(dir, delta, bench)
        Compactor.maintainLake(lake, 2 * 1024, Seq("x", "y"))(spark).collect()
      } finally {
        sc.clearJobGroup()
        sc.setLocalProperty("spark.scheduler.pool", null)
      }
    assert(maintained.count(_.getBoolean(1)) == 2, "fixture: both partitions must be dirty")
    assert(new java.io.File(s"$dir/v2/meta").exists(), "fixture: the day must commit")
    assert(spark.read.parquet(s"$dir/v2/blocklist").count() >
      spark.read.parquet(s"$dir/v1/blocklist").count(),
      "fixture: the day must add new bench keys (the retro probe)")
    val carried = props.map(p =>
      (p.getProperty("spark.jobGroup.id"), p.getProperty("spark.scheduler.pool")))
    val lacking = carried.count(_ != (group -> pool))
    assert(carried.nonEmpty)
    assert(lacking == 0, s"$lacking of ${carried.size} jobs lacked the caller's group or " +
      s"pool; they carried ${carried.filter(_ != (group -> pool)).distinct.mkString(", ")}")
  }

  test("only Par starts threads for Spark work under src/main") {
    val Spawn = """CompletableFuture\.(supplyAsync|runAsync)|Executors\.new|\bFuture\(|ExecutionContext\.from""".r
    val root = MainsSpec.root.resolve("src/main/scala")
    val par = root.resolve("graft/operators/Par.scala")
    assert(Files.isRegularFile(par))
    val hits = for {
      f <- Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      if f != par
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if Spawn.findFirstIn(line).isDefined
    } yield s"${MainsSpec.root.relativize(f)}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, s"threads for Spark work outside Par:\n${hits.mkString("\n")}")
  }
}
