package graft.operators

import graft.GraftSession
import graft.functions.{Bpe, BpeEncoder}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Round-5 batch-2 operators: BPE tokenizer (trainer + native encoder),
  * per-domain caps, blocked edit-distance dedup, exact-substring span
  * dedup, TF-IDF — the invariants the DuckDB oracle doesn't cover. */
class R5OperatorsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder(master = "local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")

  // ------------------------------------------------------------------- BPE

  test("learnMerges: greedy max-count merge with lexicographic tie-break") {
    // pairs of {aaab x3, aab x2}: (a,a)=8, (a,b)=5 -> merge (a,a) first.
    // Then (aa,a)=3, (a,b)=3, (aa,b)=2 -> tie broken to ("a","b").
    val merges = Bpe.learnMerges(Seq("aaab" -> 3L, "aab" -> 2L), 2)
    assert(merges === Seq(("a", "a"), ("a", "b")))
  }

  test("learnMerges stops when no pair occurs twice") {
    val merges = Bpe.learnMerges(Seq("ab" -> 1L, "cd" -> 1L), 10)
    assert(merges.isEmpty)
  }

  test("encoder applies merges in rank order, left-to-right non-overlapping") {
    val enc = new BpeEncoder(graft.queries.PipelineQueries.GateBpeMerges)
    // the full merge chain c,u,s,t,o,m,e,r -> customer (rank order matters:
    // (e,r) before (m,er) before ... (custo,mer))
    assert(enc.encodeWord("customer").toSeq === Seq("customer"))
    // left-to-right non-overlap: "aaa" under merge (a,a) -> [aa, a]
    val enc2 = new BpeEncoder(Seq(("a", "a")))
    assert(enc2.encodeWord("aaa").toSeq === Seq("aa", "a"))
    assert(enc2.encodeWord("aaaa").toSeq === Seq("aa", "aa"))
  }

  test("native bpe_count matches the replace-chain formulation (oracle semantics)") {
    val merges = graft.queries.PipelineQueries.GateBpeMerges
    // the oracle's exact semantics, built Spark-side: per word, chars
    // double-space-separated, each merge one global replace in rank order
    val fold = merges.foldLeft(
      "concat(' ', rtrim(regexp_replace(w, '(.)', '$1  ')), ' ')") {
      case (acc, (a, b)) => s"replace($acc, ' $a  $b ', ' $a$b ')"
    }
    val declarative = docs
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      .select(col("doc_id"),
        expr(s"size(split(trim(BOTH ' ' FROM $fold), '  '))").as("n"))
      .groupBy("doc_id").agg(sum(col("n")).as("n_bpe"))
    val native = docs.select(col("doc_id"),
      TextAnalysis.bpeCount(merges)(col("text")).as("n_bpe"))
    assert(native.join(declarative, "doc_id")
      .filter(native("n_bpe") =!= declarative("n_bpe")).count() === 0L)
    assert(native.count() === docs.count())
  }

  test("trained BPE compresses: piece count between word count and char count") {
    val merges = TextAnalysis.bpeTrain(docs, "text", numMerges = 16)
    assert(merges.size === 16)
    val counted = docs.select(
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_words"),
      TextAnalysis.bpeCount(merges)(col("text")).as("n_bpe"),
      length(regexp_replace(col("text"), "\\s+", "")).cast("long").as("n_chars"))
    assert(counted.filter(col("n_bpe") < col("n_words") ||
      col("n_bpe") > col("n_chars")).count() === 0L)
  }

  test("bpeCount drops into packDocuments as the token counter") {
    val packed = Curation.packDocuments(docs, "text", "doc_id",
      contextLen = 512, shards = 4,
      tokenCounter = TextAnalysis.bpeCount(graft.queries.PipelineQueries.GateBpeMerges))
    // every doc assigned exactly once, deterministically
    assert(packed.count() === docs.count())
    assert(packed.select("doc_id").distinct().count() === docs.count())
    val again = Curation.packDocuments(docs, "text", "doc_id",
      contextLen = 512, shards = 4,
      tokenCounter = TextAnalysis.bpeCount(graft.queries.PipelineQueries.GateBpeMerges))
    assert(packed.except(again).count() === 0L)
  }

  test("the text_bpe_count gate's merge table is bpeTrain on sf0.01 documents") {
    // GateBpeMerges is hard-coded so the gate and its DuckDB oracle share
    // one static table; a trainer change that moves it fails here
    val sf001 = graft.Tables.documents(spark, "/root/testdata/sf0.01")
    assert(TextAnalysis.bpeTrain(sf001, "text", 32) ===
      graft.queries.PipelineQueries.GateBpeMerges)
  }

  // ------------------------------------------------------------ domain cap

  test("domainCap keeps at most N per domain, best-first, and prunes below the exchange") {
    val capped = Curation.domainCap(docs, "source", "doc_id",
      TextAnalysis.qualityScore(col("text")), 3)
    val perDomain = capped.groupBy("source").agg(count(lit(1)).as("n"))
    assert(perDomain.filter(col("n") > 3).count() === 0L)
    // rank 1 really is the domain's max score
    val best = capped.filter(col("rnk") === 1)
      .select(col("source"), TextAnalysis.qualityScore(col("text")).as("q"))
    val maxes = docs.groupBy("source")
      .agg(max(TextAnalysis.qualityScore(col("text"))).as("mq"))
    assert(best.join(maxes, "source").filter(col("q") =!= col("mq")).count() === 0L)
    // the rank filter must rewrite to WindowGroupLimit (cap-bounded rows
    // per task enter the exchange — the property that matters at scale)
    assert(capped.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  // --------------------------------------------------------- edit distance

  test("editDistancePairs finds same-block pairs within the distance bound") {
    val df = spark.createDataFrame(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumped over the lazy dog"),
      (3L, "The  quick brown fox jumps over the lazy dog"),
      (4L, "completely unrelated text that still lands somewhere"))).toDF("id", "text")
    val pairs = Dedup.editDistancePairs(df, "text", "id", maxDistance = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // 1~3 normalize identically (dist 0); 1~2 differ by one edit ("jumps"
    // -> "jumped" = 1 insertion + 1 substitution = 2)
    assert(pairs.contains((1L, 3L, 0)))
    assert(pairs.exists { case (a, b, d) => a == 1L && b == 2L && d <= 3 })
    assert(pairs.forall { case (a, b, d) => a < b && d <= 3 })
  }

  // ------------------------------------------------------- substring spans

  test("duplicatedSpans/removeDuplicatedSpans: first instance survives, covered words cut") {
    val df = spark.createDataFrame(Seq(
      (1L, "a b c d e"),
      (2L, "x a b c y"),
      (3L, "p q r s t"))).toDF("id", "text")
    val spans = Dedup.duplicatedSpans(df, "text", "id", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // only "a b c" spans two docs: (doc1, 0) and (doc2, 1)
    assert(spans.map(s => (s._1, s._2)).toSet === Set((1L, 0L), (2L, 1L)))
    assert(spans.forall(_._3 == "a b c"))
    val rebuilt = Dedup.removeDuplicatedSpans(df, "text", "id", k = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // doc1 keeps everything (it owns the first instance); doc2 loses the
    // covered words a,b,c; doc3 untouched
    assert(rebuilt === Seq(
      (1L, "a b c d e", 5L, 0L),
      (2L, "x y", 2L, 3L),
      (3L, "p q r s t", 5L, 0L)))
  }

  test("removeDuplicatedSpans keeps a row for fully-cut documents") {
    val df = spark.createDataFrame(Seq(
      (1L, "a b c"),
      (2L, "a b c"))).toDF("id", "text")
    val rebuilt = Dedup.removeDuplicatedSpans(df, "text", "id", k = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rebuilt === Seq((1L, "a b c", 3L, 0L), (2L, "", 0L, 3L)))
  }

  test("ngramInstances emits nothing for docs shorter than k words") {
    val df = spark.createDataFrame(Seq((1L, "a b"), (2L, "a b c")))
      .toDF("id", "text")
    val inst = Dedup.ngramInstances(df, "text", "id", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(inst.toSeq === Seq((2L, 0L, "a b c")))
  }

  // ----------------------------------------------------------------- tfidf

  test("tfidfTopTerms: corpus-wide terms score zero, ranks bounded and deterministic") {
    val df = spark.createDataFrame(Seq(
      (1L, "shared alpha alpha"),
      (2L, "shared beta"),
      (3L, "shared gamma gamma gamma"))).toDF("id", "text")
    val top = TextAnalysis.tfidfTopTerms(df, "text", "id", 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(4), r.getInt(5)))
    // "shared" appears in every doc -> idf 0 -> never outranks a distinctive term
    top.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._4).sorted.toSeq === (1 to rows.size).toSeq)
      val first = rows.minBy(_._4)
      assert(first._2 !== "shared")
    }
    assert(top.filter(_._2 == "shared").forall(_._3 === 0.0))
  }
}
