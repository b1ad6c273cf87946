package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions.lit

import SharedRelations.materialize

/** Lifecycle of the session-shared relation registry: nested builds, one
  * build per key under concurrency, non-cascading evicts, release by
  * (session, dir), failed builds, and the builder-gate declarations. */
class SharedRelationsSpec extends SparkTestBase {
  import spark.implicits._

  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** a fresh registry with a counted frame entry `b` and an entry `a`
    * whose builder reads `b` */
  private class Fixture {
    val reg    = new SharedRelations
    val builtA = new AtomicInteger(0)
    val builtB = new AtomicInteger(0)
    val b = reg.frame("b") { (s, d) =>
      // the dir column keeps each dir's plan distinct: Spark caches one copy
      // of identical plans
      builtB.incrementAndGet(); materialize(s.range(10).select($"id", lit(d).as("dir")))
    }
    val a = reg.frame("a") { (s, d) =>
      builtA.incrementAndGet(); materialize(b(s, d).filter($"id" % 2 === 0))
    }
  }

  "SharedRelations" should "build an entry and the entry its builder reads, once each" in {
    val f = new Fixture
    try {
      f.a(spark, "d").count() shouldBe 5L
      f.a(spark, "d"); f.b(spark, "d")
      f.builtA.get() shouldBe 1
      f.builtB.get() shouldBe 1
    } finally f.reg.release(spark, "d")
  }

  it should "run one build for concurrent getters of one key" in {
    val reg   = new SharedRelations
    val built = new AtomicInteger(0)
    val slow  = reg.entry[Int]("slow") { (_, _) => built.incrementAndGet(); Thread.sleep(300); 42 }
    val pool  = Executors.newFixedThreadPool(4)
    val start = new CountDownLatch(1)
    try {
      val futures = (1 to 4).map(_ => pool.submit(new Callable[Int] {
        def call(): Int = { start.await(); slow(spark, "d") }
      }))
      start.countDown()
      futures.map(_.get(30, TimeUnit.SECONDS)) shouldBe Seq.fill(4)(42)
      built.get() shouldBe 1
    } finally pool.shutdown()
  }

  it should "rebuild only the evicted entry and keep its dependents cached" in {
    val f = new Fixture
    try {
      val a0 = f.a(spark, "d")
      f.b.evict(spark, "d")
      f.a(spark, "d") should be theSameInstanceAs a0
      f.builtA.get() shouldBe 1
      f.b(spark, "d")
      f.builtB.get() shouldBe 2
    } finally f.reg.release(spark, "d")
  }

  it should "release exactly the frames one (session, dir) persisted" in {
    val f      = new Fixture
    val before = persistedIds
    f.a(spark, "d1")
    val own = persistedIds -- before
    f.a(spark, "d2")
    val other = persistedIds -- before -- own
    own.size shouldBe 2
    other.size shouldBe 2
    f.reg.release(spark, "d1")
    persistedIds shouldBe before ++ other
    f.a(spark, "d2")
    f.builtA.get() shouldBe 2 // d2 stayed cached; d1 is gone
    f.a(spark, "d1")
    f.builtA.get() shouldBe 3
    f.reg.release(spark, "d1"); f.reg.release(spark, "d2")
    persistedIds shouldBe before
  }

  it should "leave no entry behind when a builder throws, and report it from prebuild" in {
    val reg   = new SharedRelations
    val calls = new AtomicInteger(0)
    val flaky = reg.entry[String]("flaky") { (_, _) =>
      if (calls.incrementAndGet() == 1) sys.error("first build fails") else "ok"
    }
    val broken = reg.entry[String]("broken")((_, _) => sys.error("never builds"))
    an[RuntimeException] should be thrownBy flaky(spark, "d")
    flaky(spark, "d") shouldBe "ok"
    calls.get() shouldBe 2
    val p = reg.prebuild(spark, "d")
    p.built.map(_._1) shouldBe Seq("flaky")
    p.failed shouldBe Seq("broken" -> "never builds")
    an[RuntimeException] should be thrownBy broken(spark, "d")
  }

  "SparkEntry.releaseShared" should "unpersist the frames of one testdata dir and keep the other's" in {
    def fixtureDir(): String = {
      val dir = Files.createTempDirectory("graft_shared_").toString
      Seq((0L, "spark join plans"), (1L, "spark shuffle join"), (2L, "unrelated text"))
        .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      dir
    }
    val (d1, d2) = (fixtureDir(), fixtureDir())
    val entries  = SparkEntry.shared.entries
      .filter(e => Set("term_index", "positional_postings")(e.name))
    def build(d: String): Unit = entries.foreach(_(spark, d))
    val before = persistedIds
    build(d1)
    val own = persistedIds -- before
    build(d2)
    val other = persistedIds -- before -- own
    own.size shouldBe 4 // postings, doclens, term stats, positional postings
    other.size shouldBe 4
    SparkEntry.releaseShared(spark, d1)
    persistedIds shouldBe before ++ other
    SparkEntry.releaseShared(spark, d2)
    persistedIds shouldBe before
  }

  "SparkEntry's builder gates" should "be gates of the board, one per relation group" in {
    SparkEntry.timedBuilderGates.keySet.subsetOf(SparkEntry.queries.keySet) shouldBe true
    SparkEntry.timedBuilderGates shouldBe Map(
      "d_minhash"    -> "minhash_candidates",
      "d_winnow"     -> "winnow_fps+winnow_pairs",
      "d_cc"         -> "cc_labeling",
      "d_labelprop"  -> "lpa_labeling",
      "ts_resample"  -> "hourly_grid",
      "rt_bm25_join" -> "bm25_batch")
  }
}
