package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/**
 * Session-hygiene contract: every operator materialization is OWNED — after
 * a query's result is consumed, one `Materialize.sweep` returns the session
 * to a clean slate (empty CacheManager, zero persisted RDD blocks). This is
 * what keeps a 156-query single-JVM bench at fresh-JVM speed; round 5
 * measured a ~5× session-level decay from exactly this state accumulating.
 *
 * The gate list deliberately spans every materializing family: size-gated
 * localCheckpoints (minhash/simhash fingerprints, unit vectors), the CC
 * contraction loop (per-round checkpoints + drop of the superseded round),
 * persisted edge sets (triangles), vocab checkpoints (bigram LM), the BSP
 * graph rounds (`checkpointCounted` per round), and a plain
 * no-materialization query as a control.
 *
 * Ownership is per thread: a release on one thread never drops another
 * thread's blocks, and checkpoints report the rows and bytes they wrote.
 */
class MaterializeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder(master = "local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def persistedRddCount: Int =
    spark.sparkContext.getPersistentRDDs.size

  private val gates = Seq(
    "q1_agg",               // control: no operator materialization
    "dedup_minhash_lsh",    // size-gated fingerprint checkpoint
    "dedup_simhash",        // size-gated persist/checkpoint dual path
    "dedup_clusters",       // CC: e0/nodes/loop checkpoints + per-round drop
    "dedup_keep",
    "dedup_jaccard_pairs",
    "dedup_char_jaccard",
    "sim_ann_sq8",          // unit-vector materialization
    "sim_ann_pq",
    "sim_ann_ivfpq",
    "text_bigram_lm",       // vocab checkpoint
    "text_logprob",
    "graph_triangles",      // persisted canonical edge set
    "graph_pagerank",
    "graph_kcore",          // checkpointCounted per peel round
    "graph_bfs",
    "graph_label_prop",
    "graph_hits",
    "text_bm25",
    "pipeline_curate",
    "text_heavy_hitters",
    "dedup_exact",
    "sim_topk_bruteforce",
    "q_window_rank"         // second control
  ).filter(SparkEntry.queries.contains)

  test("gate list resolves against the registry") {
    assert(gates.size >= 15, s"only ${gates.size} of the hygiene gates exist")
  }

  for (name <- gates) {
    test(s"$name leaves a clean session after sweep") {
      SparkEntry.queries(name)(spark, sfDir).count()
      Materialize.sweep(spark)
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left CacheManager entries after sweep")
      assert(persistedRddCount == 0,
        s"$name left $persistedRddCount persisted RDDs after sweep")
      assert(Materialize.ownedCount == 0,
        s"$name left ${Materialize.ownedCount} owned registrations after sweep")
    }
  }

  test("a checkpoint reports the rows and bytes its job wrote") {
    val (cp, n) = Materialize.checkpointCounted(
      spark.range(0, 1000, 1, 4).selectExpr("id", "id * 2 AS twice"))
    val stats = cp.queryExecution.optimizedPlan.stats
    assert(n == 1000)
    assert(stats.rowCount.contains(BigInt(1000)))
    // an UnsafeRow of two non-null longs: 8-byte null bitset + 2 × 8 bytes
    assert(stats.sizeInBytes == BigInt(1000 * 24))
    Materialize.release()
  }

  test("a semi-join of two small checkpoints plans a broadcast without a hint") {
    // each origin is a join, whose optimizer estimate is the product of its
    // inputs' sizes (~170 MB here) — far above the 64 MB threshold
    def small(m: Int) = Materialize.localCheckpoint(
      spark.range(0, 2000).as("a")
        .join(spark.range(0, 2000).as("b"), col("a.id") === col("b.id") * m)
        .select(col("a.id").as("k")))
    val plan = small(2).join(small(3), Seq("k"), "left_semi")
      .queryExecution.sparkPlan
    assert(plan.exists(_.isInstanceOf[BroadcastHashJoinExec]), plan.treeString)
    Materialize.release()
  }

  test("a failed checkpoint job's blocks are released by its thread") {
    val before = persistedRddCount
    val failing = spark.range(0, 100, 1, 4)
      .selectExpr("IF(id = 97, raise_error('boom'), id) AS id")
    intercept[Exception](Materialize.checkpointCounted(failing))
    Materialize.release()
    assert(persistedRddCount == before)
  }

  test("a release on another thread leaves this thread's checkpoints intact") {
    val (cp, n) = Materialize.checkpointCounted(
      spark.range(0, 5000, 1, 4).selectExpr("id", "id % 7 AS k"))
    val mine = cp.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }
    val other = new Thread(() => Materialize.release())
    other.start()
    other.join()
    val persisted = spark.sparkContext.getPersistentRDDs
    assert(mine.nonEmpty && mine.forall(persisted.contains))
    assert(cp.count() == 5000 && n == 5000)
    assert(Materialize.ownedCount == 1)
    Materialize.release()
    assert(!mine.exists(spark.sparkContext.getPersistentRDDs.contains))
  }

  test("kCore on one thread survives releases on another") {
    // a 300-node circulant graph (degree 6) with a 20-node pendant chain:
    // the chain peels in round 1, the circulant core survives
    val ring = spark.range(0, 300).selectExpr("id AS src",
      "explode(array((id + 1) % 300, (id + 2) % 300, (id + 3) % 300)) AS dst")
    val chain = spark.range(1000, 1020).selectExpr("id AS src", "id + 1 AS dst")
      .union(spark.range(0, 1).selectExpr("id AS src", "1000L AS dst"))
    val und = ring.union(chain)
    val edges = und.union(und.select(col("dst").as("src"), col("src").as("dst")))
    val want = operators.Analytics.kCore(edges, k = 3).collect().toSet
    Materialize.release()
    @volatile var done = false
    val releaser = new Thread(() => {
      while (!done) { Materialize.release(); Thread.sleep(2) }
    })
    releaser.start()
    val got = try operators.Analytics.kCore(edges, k = 3).collect().toSet
      finally { done = true; releaser.join() }
    assert(want.size == 300)
    assert(got == want)
    Materialize.release()
    assert(persistedRddCount == 0)
  }

  test("20-gate session ends with zero retained blocks") {
    // the aggregate property the bench relies on: nothing accumulates
    // across a long sequence of queries in ONE session
    gates.foreach { name =>
      SparkEntry.queries(name)(spark, sfDir).count()
      Materialize.sweep(spark)
    }
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(persistedRddCount == 0)
  }
}
