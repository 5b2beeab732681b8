package graft.queries

import graft.Tables
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.functions.GraftFunctions.rolling_fingerprint
import org.apache.spark.sql.functions._

/**
 * Training-data pipeline operators through the correctness gate: text
 * analysis, dedup (exact / n-gram Jaccard / MinHash-LSH / SimHash),
 * embedding similarity (brute-force + LSH ANN), multimodal plumbing.
 * Sketch-based operators (MinHash/SimHash/LSH) have no SQL mirror — they
 * get rows-only gate entries and are value-verified against their exact
 * counterparts in PipelineSpec.
 */
object PipelineQueries extends QueryRegistry {

  // SQL fragments shared by oracles
  private val WordsSql =
    "list_filter(string_split_regex(lower(text), '\\s+'), w -> len(w)>0)"
  private def hex15ToInt(hexExpr: String): String = OracleSql.hex15ToInt(hexExpr)
  private def shinglesSql(words: String) =
    s"""CASE WHEN len($words) < 3 THEN [array_to_string($words, ' ')]
        ELSE list_distinct([array_to_string($words[i:i+2], ' ')
                            for i in generate_series(1, len($words)-2)]) END"""

  /** The md5-family MinHash+LSH pair set shared by `dedup_minhash_lsh` and
    * `dedup_clusters` — one Spark formulation, one oracle CTE chain ending
    * in `pairs(id_a, id_b, sim)`. */
  private def minhashPairs(
      s: org.apache.spark.sql.SparkSession, dir: String) =
    Dedup.md5MinhashLshPairs(
      Tables.documents(s, dir).filter(col("doc_id") % 10 === 0),
      "text", "doc_id", shingleK = 1, numHashes = 32, bands = 16,
      threshold = 0.8)

  private lazy val MinhashPairsCtes: String = {
    val rlist = Dedup.xorSeeds(32).map(_.toString + "::BIGINT").mkString(",")
    // the CASE mirrors Dedup.shingles' size<k branch: an empty token
    // list yields the single sentinel shingle [''] on both sides
    s"""docs AS (
          SELECT doc_id,
                 CASE WHEN len($WordsSql) < 1 THEN ['']
                      ELSE list_distinct($WordsSql) END AS sh
          FROM documents WHERE doc_id % 10 = 0),
        hashed AS (
          SELECT doc_id, sh, list_transform(sh, s -> ${hex15ToInt("md5(s)")}) AS hs
          FROM docs),
        sigs AS (
          SELECT doc_id, sh, [ list_min([xor(h, r) for h in hs]) for r in [$rlist] ] AS sig
          FROM hashed),
        banded AS (
          SELECT doc_id, sh, b, sig[2*b+1 : 2*b+2] AS bv
          FROM sigs, (SELECT unnest(generate_series(0, 15)) AS b) t),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sh_a, b.sh AS sh_b
          FROM banded a JOIN banded b
            ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id),
        pairs AS (
          SELECT id_a, id_b,
                 round(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) /
                       (CAST(len(sh_a) + len(sh_b) AS DOUBLE) - CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)), 6) AS sim
          FROM cand
          WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) /
                (CAST(len(sh_a) + len(sh_b) AS DOUBLE) - CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)) >= 0.8)"""
  }

  /** Paragraph-structured view of the documents table for the paragraph
    * dedup gates: the corpus has no newlines, so we derive the structure
    * deterministically — words chunked 8 at a time, chunks joined by
    * '\n'. A pure projection of the real table (no synthetic data), and
    * exact duplicate documents yield genuine cross-document duplicate
    * paragraphs for the operator to drop. */
  private def paragraphedDocs(
      s: org.apache.spark.sql.SparkSession, dir: String) = {
    val ws = split(col("text"), " ")
    Tables.documents(s, dir).select(col("doc_id"),
      array_join(
        transform(
          sequence(lit(0), ceil(size(ws) / lit(8.0)).cast("int") - 1),
          i => array_join(slice(ws, i * lit(8) + 1, lit(8)), " ")),
        "\n").as("text"))
  }

  /** Oracle mirror of [[paragraphedDocs]] + the normalized-key paragraph
    * explode: CTEs ending in `d(doc_id, para_idx, para, k)`. Parallel
    * unnests zip in DuckDB, so the chunk index and chunk value explode
    * together without a lateral join. */
  private val ParagraphCtes: String = """
        s AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        c AS (SELECT doc_id, ws,
                     CAST(ceil(len(ws) / 8.0) AS BIGINT) AS nc FROM s),
        p AS (
          SELECT doc_id,
                 unnest(generate_series(0, nc - 1)) AS para_idx,
                 unnest(list_transform(generate_series(0, nc - 1),
                   i -> array_to_string(ws[i*8+1 : i*8+8], ' '))) AS para
          FROM c),
        d AS (
          SELECT doc_id, para_idx, para,
                 trim(regexp_replace(lower(para), '\s+', ' ', 'g')) AS k
          FROM p
          WHERE trim(regexp_replace(lower(para), '\s+', ' ', 'g')) <> '')"""

  override def all: Seq[QueryDef] = Seq(

    QueryDef(
      "text_stats",
      (s, dir) => TextAnalysis.stats(Tables.documents(s, dir), "text", "doc_id"),
      Some("""
        SELECT doc_id,
               len(regexp_extract_all(text, '[^ ]+')) AS n_tokens,
               CAST(len(regexp_extract_all(text, '[^ ]+')) + floor(length(text) / 16) AS BIGINT) AS n_subwords,
               len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
               len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|a|is|it|for|on)\b')) AS n_stops,
               round(
                 least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5 +
                 least(CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|a|is|it|for|on)\b')) AS DOUBLE)
                       / (CAST(len(regexp_extract_all(text, '[^ ]+')) AS DOUBLE) + 1.0) * 5.0, 1.0) * 0.3 +
                 (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
                        / (CAST(length(text) AS DOUBLE) + 1.0)) * 0.2, 6) AS quality
        FROM documents""")),

    QueryDef(
      "text_readability",
      // Flesch reading ease with the dictionary-free vowel-group syllable
      // heuristic (min 1 per word); integer counts in, 1e-4-floor-quantized
      // score out — no decimal re-round for engines to disagree on. One
      // codegen'd projection; the score drops into the quality gates as a
      // scorer column like everything else in this family.
      (s, dir) => TextAnalysis.readability(Tables.documents(s, dir), "text", "doc_id"),
      Some(s"""
        WITH w AS (
          SELECT doc_id, $WordsSql AS words, text FROM documents),
        c AS (
          SELECT doc_id,
                 greatest(1, len(words)) AS n_words,
                 greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sentences,
                 len(regexp_extract_all(lower(text), '[aeiouy]+')) +
                 len(list_filter(words, x -> NOT regexp_matches(x, '[aeiouy]'))) AS n_syllables
          FROM w)
        SELECT doc_id, n_words, n_sentences, n_syllables,
               CAST(floor((206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                          - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words)) * 10000) AS BIGINT) AS flesch_q
        FROM c""")),

    QueryDef(
      "text_langid",
      (s, dir) => Tables.documents(s, dir)
        .select(TextAnalysis.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang_pred")).agg(count(lit(1)).as("n")),
      Some {
        val scores = Seq(
          "en" -> "\\b(the|and|of|to|in|is|that|it)\\b",
          "es" -> "\\b(el|la|los|las|de|que|y|es)\\b",
          "de" -> "\\b(der|die|das|und|ist|nicht|ein)\\b",
          "fr" -> "\\b(le|les|des|et|est|une|dans)\\b",
          "zh" -> "[\\x{4e00}-\\x{9fff}]")
        val defs = scores.map { case (l, re) =>
          s"len(regexp_extract_all(lower(text), '$re')) AS s_$l"
        }.mkString(", ")
        val maxExpr = "greatest(s_en, s_es, s_de, s_fr, s_zh)"
        val caseExpr = scores.map { case (l, _) =>
          s"WHEN s_$l > 0 AND s_$l = $maxExpr THEN '$l'"
        }.mkString(" ")
        s"""SELECT lang_pred, COUNT(*) AS n FROM (
              SELECT CASE $caseExpr ELSE 'und' END AS lang_pred
              FROM (SELECT $defs FROM documents))
            GROUP BY lang_pred"""
      }),

    QueryDef(
      "text_langid_eval",
      // language-ID CONFUSION MATRIX: the classifier's prediction crossed
      // with the corpus's ground-truth lang column — the eval that says
      // whether the n-gram heuristic is trustworthy before routing on it
      // (same eval→trust loop as sim_ann_recall and dedup_lsh_eval). One
      // aggregate; cells are (truth, predicted, count).
      (s, dir) => Tables.documents(s, dir)
        .groupBy(col("lang"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .agg(count(lit(1)).as("n")),
      Some {
        val scores = Seq(
          "en" -> "\\b(the|and|of|to|in|is|that|it)\\b",
          "es" -> "\\b(el|la|los|las|de|que|y|es)\\b",
          "de" -> "\\b(der|die|das|und|ist|nicht|ein)\\b",
          "fr" -> "\\b(le|les|des|et|est|une|dans)\\b",
          "zh" -> "[\\x{4e00}-\\x{9fff}]")
        val defs = scores.map { case (l, re) =>
          s"len(regexp_extract_all(lower(text), '$re')) AS s_$l"
        }.mkString(", ")
        val maxExpr = "greatest(s_en, s_es, s_de, s_fr, s_zh)"
        val caseExpr = scores.map { case (l, _) =>
          s"WHEN s_$l > 0 AND s_$l = $maxExpr THEN '$l'"
        }.mkString(" ")
        s"""SELECT lang, lang_pred, COUNT(*) AS n FROM (
              SELECT lang, CASE $caseExpr ELSE 'und' END AS lang_pred
              FROM (SELECT lang, $defs FROM documents))
            GROUP BY lang, lang_pred"""
      }),

    QueryDef(
      "dedup_exact",
      (s, dir) => Dedup.exact(Tables.documents(s, dir), "text", "doc_id")
        .select(md5(col("text").cast("binary")).as("text_hash"),
          col("keep_id"), col("n_copies")),
      Some("""
        SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id,
               COUNT(*) AS n_copies
        FROM documents GROUP BY text""")),

    QueryDef(
      "dedup_exact_norm",
      // normalization-aware exact dedup: lowercase + whitespace collapse
      // before hashing catches trivially-reformatted duplicates; still one
      // hash-aggregate — the projection is free
      (s, dir) => Dedup.exactNormalized(Tables.documents(s, dir), "text", "doc_id")
        .select(md5(col("norm_content").cast("binary")).as("norm_hash"),
          col("keep_id"), col("n_copies")),
      Some("""
        SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS norm_hash,
               MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        FROM documents GROUP BY trim(regexp_replace(lower(text), '\s+', ' ', 'g'))""")),

    QueryDef(
      "dedup_jaccard_pairs",
      // unigram shingles: this corpus's vocabulary is small, so word-set
      // Jaccard is the discriminating n-gram granularity (3-grams barely
      // collide); threshold picked at the observed 90th percentile
      (s, dir) => Dedup.exactJaccardPairs(
        Tables.documents(s, dir).filter(col("doc_id") % 10 === 0),
        "text", "doc_id", shingleK = 1, threshold = 0.8),
      Some(s"""
        WITH docs AS (
          SELECT doc_id, list_distinct($WordsSql) AS sh
          FROM documents WHERE doc_id % 10 = 0)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                     (CAST(len(a.sh) + len(b.sh) AS DOUBLE) - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)),
                     6) AS sim
        FROM docs a, docs b
        WHERE a.doc_id < b.doc_id
          AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              (CAST(len(a.sh) + len(b.sh) AS DOUBLE) - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) >= 0.8""")),

    QueryDef(
      "dedup_sorted_neighbors",
      // sorted-neighborhood method: candidates from ORDER LOCALITY on a
      // normalized-prefix blocking key (window 5), confirmed with exact
      // word-shingle Jaccard — the ER-classic complement to LSH banding;
      // exactly window·n candidate pairs regardless of how hot any block
      // is. The oracle replays the total order with one row_number window.
      (s, dir) => Dedup.sortedNeighborPairs(
        Tables.documents(s, dir), "text", "doc_id",
        window = 5, prefixLen = 24, shingleK = 1, threshold = 0.8),
      Some(s"""
        WITH d0 AS (
          SELECT doc_id AS id,
                 substring(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 24) AS bk,
                 CASE WHEN len($WordsSql) < 1 THEN ['']
                      ELSE list_distinct($WordsSql) END AS sh
          FROM documents),
        r AS (SELECT id, sh, row_number() OVER (ORDER BY bk, id) - 1 AS pos FROM d0),
        cand AS (SELECT a.id AS ia, a.sh AS sha, b.id AS ib, b.sh AS shb
                 FROM r a JOIN r b ON b.pos > a.pos AND b.pos <= a.pos + 5),
        sims AS (SELECT ia, ib,
                 CAST(len(list_intersect(sha, shb)) AS DOUBLE) /
                 (CAST(len(sha) + len(shb) AS DOUBLE) -
                  CAST(len(list_intersect(sha, shb)) AS DOUBLE)) AS sim
                 FROM cand)
        SELECT least(ia, ib) AS id_a, greatest(ia, ib) AS id_b,
               round(sim, 6) AS sim
        FROM sims WHERE sim >= 0.8""")),

    QueryDef(
      "dedup_lsh_eval",
      // the dedup twin of sim_ann_recall: score the MinHash-LSH pair set
      // against exhaustive exact-Jaccard ground truth on the same subset.
      // Precision is 1.0 BY CONSTRUCTION (LSH candidates are exact-confirm
      // filtered — the gate states that property as data); recall < 1
      // measures true pairs whose signatures never collided in any band,
      // the number you tune bands/hashes against before trusting the
      // sketch at corpus scale. One full-outer join of two bounded pair
      // sets, one 1-row aggregate.
      (s, dir) => {
        val subset = Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
        val truth = Dedup.exactJaccardPairs(subset, "text", "doc_id",
            shingleK = 1, threshold = 0.8)
          .select(col("id_a"), col("id_b"), lit(1L).as("t"))
        val pred = Dedup.md5MinhashLshPairs(subset, "text", "doc_id",
            shingleK = 1, numHashes = 32, bands = 16, threshold = 0.8)
          .select(col("id_a"), col("id_b"), lit(1L).as("p"))
        truth.join(pred, Seq("id_a", "id_b"), "full_outer")
          .agg(sum(col("t")).as("n_true"), sum(col("p")).as("n_pred"),
            sum(coalesce(col("t"), lit(0L)) * coalesce(col("p"), lit(0L))).as("n_hits"))
          .select(col("n_true"), col("n_pred"), col("n_hits"),
            round(col("n_hits").cast("double") / col("n_pred"), 6).as("precision"),
            round(col("n_hits").cast("double") / col("n_true"), 6).as("recall"))
      },
      Some(s"""
        WITH $MinhashPairsCtes,
        truth AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM docs a, docs b
          WHERE a.doc_id < b.doc_id
            AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                (CAST(len(a.sh) + len(b.sh) AS DOUBLE) -
                 CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) >= 0.8),
        m AS (SELECT id_a, id_b FROM pairs),
        c AS (SELECT
                (SELECT COUNT(*) FROM truth) AS n_true,
                (SELECT COUNT(*) FROM m) AS n_pred,
                (SELECT COUNT(*) FROM truth JOIN m USING (id_a, id_b)) AS n_hits)
        SELECT n_true, n_pred, n_hits,
               round(CAST(n_hits AS DOUBLE) / n_pred, 6) AS precision,
               round(CAST(n_hits AS DOUBLE) / n_true, 6) AS recall
        FROM c""")),

    QueryDef(
      "dedup_char_jaccard",
      (s, dir) => {
        // character-set Jaccard vs a reference doc per source group — the
        // n-gram family's 1-gram case, exactly mirroring DuckDB's jaccard()
        // char sets computed BEFORE the self-join: O(n) array builds instead
        // of O(n²) — the projection-pushdown shape that matters at scale
        val docs = Tables.documents(s, dir).filter(col("doc_id") < 100)
          .select(col("doc_id"),
            sort_array(array_distinct(split(col("text"), ""))).as("cs"))
        docs.as("a").join(docs.as("b"), col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
            round(Dedup.jaccardSorted(col("a.cs"), col("b.cs")), 6).as("sim"))
          .filter(col("sim") >= 0.9)
      },
      Some("""
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(jaccard(a.text, b.text), 6) AS sim
        FROM documents a, documents b
        WHERE a.doc_id < b.doc_id AND a.doc_id < 100 AND b.doc_id < 100
          AND round(jaccard(a.text, b.text), 6) >= 0.9""")),

    // sketch operators, md5-hash-family variants: every intermediate
    // (signature, band bucket, candidate set) is engine-neutral, so the
    // DuckDB oracle replays the whole sketch pipeline value-for-value.
    // The murmur/xxhash variants stay the scale path, value-verified in
    // PipelineSpec.
    QueryDef(
      "dedup_minhash_lsh",
      // 32 hashes / 16 bands of 2: collision P at j=0.8 is 1-(1-0.64)^16≈1.0,
      // at half the signature cost of 64 hashes
      (s, dir) => minhashPairs(s, dir),
      Some(s"WITH $MinhashPairsCtes SELECT id_a, id_b, sim FROM pairs")),

    QueryDef(
      "dedup_clusters",
      // pairs → connected components: the step that turns near-dup EDGES
      // into dedup GROUPS. Oracle computes the same components by
      // recursive transitive closure over the identical pair set.
      (s, dir) => Dedup.connectedComponents(minhashPairs(s, dir), "id_a", "id_b"),
      Some(s"""WITH RECURSIVE $MinhashPairsCtes,
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION
          SELECT id_b, id_a FROM pairs),
        reach AS (
          SELECT src AS node, dst AS peer FROM edges
          UNION
          SELECT r.node, e.dst AS peer
          FROM reach r JOIN edges e ON e.src = r.peer)
        SELECT node AS id, least(node, min(peer)) AS cluster_id
        FROM reach GROUP BY node""")),

    QueryDef(
      "dedup_keep",
      // the TERMINAL dedup step end-to-end: near-dup pairs → connected
      // components → drop every cluster member except its min-id
      // representative; unique documents pass through untouched. One
      // left-anti join against the (tiny) non-representative set.
      (s, dir) => {
        val docs10 = Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
        val clusters = Dedup.connectedComponents(minhashPairs(s, dir), "id_a", "id_b")
        Dedup.keepRepresentatives(docs10, "doc_id", clusters)
          .agg(count(lit(1)).as("n_kept"),
            sum(col("doc_id")).as("id_sum"))
      },
      Some(s"""WITH RECURSIVE $MinhashPairsCtes,
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION
          SELECT id_b, id_a FROM pairs),
        reach AS (
          SELECT src AS node, dst AS peer FROM edges
          UNION
          SELECT r.node, e.dst AS peer
          FROM reach r JOIN edges e ON e.src = r.peer),
        cc AS (
          SELECT node AS id, least(node, min(peer)) AS cid
          FROM reach GROUP BY node),
        dropped AS (SELECT id FROM cc WHERE id <> cid)
        SELECT COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum
        FROM documents
        WHERE doc_id % 10 = 0 AND doc_id NOT IN (SELECT id FROM dropped)""")),

    QueryDef(
      "dedup_semantic",
      // semantic dedup in EMBEDDING space: LSH-bucketed cosine pairs →
      // connected components → keep each cluster's min-id representative.
      // Same %5 sample + data-derived planes as sim_pairs_lsh (bucketing
      // verified there); this entry verifies the composition into a
      // surviving corpus — the embedding-side analog of dedup_keep. At
      // scale every stage is the banded/bucketed shape: pairs only within
      // buckets, components over the (tiny) near-dup edge set, survivors
      // via one left-anti join.
      (s, dir) => {
        val emb = Tables.embeddings(s, dir).filter(col("vec_id") % 5 === 0)
        val pairs = Similarity.dataPlaneCosinePairs(
          emb, "embedding", "vec_id", threshold = 0.3, numPlanes = 4)
        val clusters = Dedup.connectedComponents(pairs, "id_a", "id_b")
        Dedup.keepRepresentatives(emb, "vec_id", clusters)
          .agg(count(lit(1)).as("n_kept"),
            sum(col("vec_id")).cast("long").as("id_sum"))
      },
      Some("""WITH RECURSIVE e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id % 5 = 0),
        p AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS pj, v AS pv
          FROM e ORDER BY vec_id LIMIT 4),
        b AS (
          SELECT e.vec_id, e.v,
                 CAST(SUM(CASE WHEN list_dot_product(e.v, p.pv) >= 0
                               THEN (1::BIGINT << pj) ELSE 0 END) AS BIGINT) AS bucket
          FROM e, p GROUP BY e.vec_id, e.v),
        prs AS (
          SELECT a.vec_id AS id_a, b2.vec_id AS id_b
          FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
          WHERE list_dot_product(a.v, b2.v) /
                (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b2.v, b2.v))) >= 0.3),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM prs
          UNION SELECT id_b, id_a FROM prs),
        reach AS (
          SELECT src AS node, dst AS peer FROM edges
          UNION
          SELECT r.node, e2.dst AS peer
          FROM reach r JOIN edges e2 ON e2.src = r.peer),
        cc AS (SELECT node AS id, least(node, min(peer)) AS cid
               FROM reach GROUP BY node),
        dropped AS (SELECT id FROM cc WHERE id <> cid)
        SELECT COUNT(*) AS n_kept, CAST(SUM(vec_id) AS BIGINT) AS id_sum
        FROM e WHERE vec_id NOT IN (SELECT id FROM dropped)""")),

    QueryDef(
      "dedup_simhash",
      (s, dir) => Dedup.md5SimhashPairs(
        Tables.documents(s, dir).filter(col("doc_id") % 5 === 0),
        "text", "doc_id", maxDistance = 8),
      Some(s"""
        WITH docs AS (
          SELECT doc_id, $WordsSql AS toks
          FROM documents WHERE doc_id % 5 = 0),
        hashed AS (
          SELECT doc_id, list_transform(toks, s -> ${hex15ToInt("md5(s)")}) AS hs
          FROM docs),
        fp AS (
          SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 59), j ->
                   CASE WHEN 2*len(list_filter(hs, h -> (h >> j) & 1 = 1)) - len(hs) > 0
                        THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT) AS simhash
          FROM hashed),
        chunked AS (
          SELECT doc_id, simhash, c, (simhash >> (c*15)) & 32767 AS cv
          FROM fp, (SELECT unnest(generate_series(0, 3)) AS c) t),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.simhash AS ha, b.simhash AS hb
          FROM chunked a JOIN chunked b
            ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id)
        SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
        FROM cand WHERE bit_count(xor(ha, hb)) <= 8""")),

    QueryDef(
      "dedup_incremental",
      // the production dedup shape: today's increment (doc_id % 3 = 0)
      // deduped against the standing corpus (the rest) — corpus
      // contributes only its distinct key set, the increment pays one
      // anti-join + one aggregate; the corpus is never re-paired
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Dedup.exactIncrement(
          docs.filter(col("doc_id") % 3 =!= 0),
          docs.filter(col("doc_id") % 3 === 0),
          "text", "doc_id")
      },
      Some("""
        WITH seen AS (
          SELECT DISTINCT trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS k
          FROM documents WHERE doc_id % 3 <> 0),
        inc AS (
          SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS k
          FROM documents WHERE doc_id % 3 = 0)
        SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        FROM inc WHERE k NOT IN (SELECT k FROM seen)
        GROUP BY k""")),

    QueryDef(
      "dedup_cdc_incremental",
      // incremental chunk dedup: today's increment (doc_id % 3 = 0) chunked
      // and anti-joined against the corpus's distinct chunk identity set —
      // per increment doc, novel chunk/byte counts. The corpus is never
      // re-paired; its contribution is the persistable (fp, len) index.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Dedup.cdcIncrement(
          docs.filter(col("doc_id") % 3 =!= 0),
          docs.filter(col("doc_id") % 3 === 0),
          "text", "doc_id", window = 16, divisor = 64)
      },
      Some("""
        WITH b AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents),
        v AS (
          SELECT doc_id, list_transform(generate_series(1, length(hx)//2),
                   i -> 16*(strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1))-1)
                        + (strpos('0123456789ABCDEF', substr(hx, 2*i, 1))-1)) AS bs
          FROM b),
        cuts AS (
          SELECT doc_id, list_sort(list(i)) AS cl
          FROM v, LATERAL (SELECT unnest(generate_series(16, len(bs))) AS i) t
          WHERE list_reduce(list_prepend(0::HUGEINT, bs[i-15:i]),
                  (a, x) -> (a*257 + x + 1) % 18446744073709551616::HUGEINT) % 64 = 0
          GROUP BY doc_id),
        ranges AS (
          SELECT v.doc_id, v.bs,
                 list_prepend(1, list_transform(COALESCE(cuts.cl, []), c -> c + 1)) AS ss,
                 list_append(COALESCE(cuts.cl, []), len(v.bs)) AS es
          FROM v LEFT JOIN cuts USING (doc_id)),
        chunks AS (
          SELECT doc_id, bs, ss[k] AS s, es[k] AS e
          FROM ranges, LATERAL (SELECT unnest(generate_series(1, len(ss))) AS k) t
          WHERE ss[k] <= es[k]),
        fps AS (
          SELECT doc_id, CAST(e - s + 1 AS BIGINT) AS len,
                 list_reduce(list_prepend(0::HUGEINT, bs[s:e]),
                   (a, x) -> (a*257 + x + 1) % 18446744073709551616::HUGEINT) AS hu
          FROM chunks),
        seen AS (SELECT DISTINCT hu, len FROM fps WHERE doc_id % 3 <> 0),
        inc AS (SELECT * FROM fps WHERE doc_id % 3 = 0),
        j AS (
          SELECT inc.doc_id, inc.len, (seen.hu IS NOT NULL) AS dup
          FROM inc LEFT JOIN seen ON seen.hu = inc.hu AND seen.len = inc.len)
        SELECT doc_id, COUNT(*) AS n_chunks, CAST(SUM(len) AS BIGINT) AS total_bytes,
               COUNT(CASE WHEN NOT dup THEN 1 END) AS n_novel,
               CAST(COALESCE(SUM(CASE WHEN NOT dup THEN len END), 0) AS BIGINT)
                 AS novel_bytes
        FROM j GROUP BY doc_id""")),

    QueryDef(
      "dedup_containment",
      // directed containment: |sh(A) ∩ sh(B)| / |sh(A)| ≥ 0.8 over word
      // 3-gram shingle sets — catches a doc CONTAINED in a larger one,
      // which symmetric Jaccard misses when sizes differ. Inverted-index
      // equi-join on the shingle, never all pairs.
      (s, dir) => Dedup.containmentPairs(
        Tables.documents(s, dir).filter(col("doc_id") % 4 === 0),
        "text", "doc_id", shingleK = 3, threshold = 0.8),
      Some(s"""
        WITH docs AS (
          SELECT doc_id, ${shinglesSql(WordsSql)} AS sh
          FROM documents WHERE doc_id % 4 = 0),
        ex AS (SELECT doc_id, unnest(sh) AS s FROM docs),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
          FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id <> b.doc_id
          GROUP BY 1, 2),
        sz AS (SELECT doc_id, len(sh) AS n FROM docs)
        SELECT id_a, id_b, round(i * 1.0 / sz.n, 6) AS containment
        FROM inter JOIN sz ON sz.doc_id = id_a
        WHERE i * 1.0 / sz.n >= 0.8""")),

    QueryDef(
      "dedup_paragraph",
      // CCNet/Gopher paragraph-granularity dedup: every paragraph keyed by
      // normalized content, first occurrence (min doc_id, para_idx) wins.
      // ONE min_by hash-aggregate — no winner-join; only (key, winner,
      // count) crosses the shuffle. The oracle computes the same winners
      // via a window (same ordering).
      (s, dir) => Dedup.dedupParagraphs(paragraphedDocs(s, dir),
        "text", "doc_id", "\n"),
      Some(s"""
        WITH $ParagraphCtes,
        w AS (
          SELECT doc_id, para_idx, para,
                 row_number() OVER (PARTITION BY k ORDER BY doc_id, para_idx) AS rn,
                 COUNT(*) OVER (PARTITION BY k) AS n_copies
          FROM d)
        SELECT doc_id, para_idx, para, n_copies FROM w WHERE rn = 1""")),

    QueryDef(
      "dedup_paragraph_rebuild",
      // the end-to-end paragraph pipeline: dedup at paragraph level, then
      // reassemble each document's surviving paragraphs in original order
      // — the shape CCNet ships to training. Per-doc collect_list is
      // bounded by one document's paragraph count, never corpus-sized.
      (s, dir) => Dedup.paragraphDedupRebuild(paragraphedDocs(s, dir),
        "text", "doc_id", "\n"),
      Some(s"""
        WITH $ParagraphCtes,
        w AS (
          SELECT doc_id, para_idx, para,
                 row_number() OVER (PARTITION BY k ORDER BY doc_id, para_idx) AS rn
          FROM d),
        keep AS (SELECT doc_id, para_idx, para FROM w WHERE rn = 1),
        r AS (
          SELECT doc_id, COUNT(*) AS n_kept,
                 string_agg(para, chr(10) ORDER BY para_idx) AS text
          FROM keep GROUP BY doc_id),
        tot AS (SELECT doc_id, COUNT(*) AS n_total FROM d GROUP BY doc_id)
        SELECT r.doc_id, r.text, r.n_kept,
               tot.n_total - r.n_kept AS n_dropped
        FROM r JOIN tot USING (doc_id)""")),

    QueryDef(
      "text_fingerprint",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), rolling_fingerprint(col("text")).as("fp")),
      // Karp–Rabin base-257 mod 2^64 over UTF-8 bytes, replayed in HUGEINT
      // arithmetic (Java long wraparound == mod 2^64 on the unsigned view)
      Some("""
        WITH b AS (
          SELECT doc_id, hex(encode(text)) AS hx FROM documents),
        v AS (
          SELECT doc_id, list_reduce(list_prepend(0::HUGEINT,
                   list_transform(generate_series(1, length(hx)//2),
                     i -> 16*(strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1))-1)
                          + (strpos('0123456789ABCDEF', substr(hx, 2*i, 1))-1))),
                   (a, x) -> (a*257 + x + 1) % 18446744073709551616::HUGEINT) AS h
          FROM b)
        SELECT doc_id, CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
                                 THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT) AS fp
        FROM v""")),

    QueryDef(
      "sim_topk",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val qv = emb.filter(col("vec_id") === 0)
          .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
        Similarity.bruteForceTopK(emb.filter(col("vec_id") =!= 0),
          "embedding", "vec_id", qv, 20)
      },
      Some("""
        WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id = 0)
        SELECT vec_id AS id,
               round(list_dot_product(CAST(embedding AS DOUBLE[]), qv) /
                     (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
                      sqrt(list_dot_product(qv, qv))), 6) AS sim
        FROM embeddings, q WHERE vec_id <> 0
        ORDER BY sim DESC, id LIMIT 20""")),

    QueryDef(
      "sim_ann_hnsw",
      // HNSW graph ANN (the partitioned small-world shape missing from the
      // brute/LSH/IVF/PQ/BQ ladder): per-partition deterministic HNSW +
      // beam search + one TakeOrdered merge. At gate scale efSearch covers
      // every partition, so the graph walk must reproduce brute-force
      // top-k EXACTLY — the oracle verifies the whole build+search path
      // end-to-end against DuckDB's exact cosine ranking; HnswSpec pins
      // the recall floor in the true sub-linear ANN regime.
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val qv = emb.filter(col("vec_id") === 0)
          .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
        Similarity.hnswTopK(emb.filter(col("vec_id") =!= 0),
          "embedding", "vec_id", qv, 20)
      },
      Some("""
        WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id = 0)
        SELECT vec_id AS id,
               round(list_dot_product(CAST(embedding AS DOUBLE[]), qv) /
                     (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
                      sqrt(list_dot_product(qv, qv))), 6) AS sim
        FROM embeddings, q WHERE vec_id <> 0
        ORDER BY sim DESC, id LIMIT 20""")),

    QueryDef(
      "sim_ann_hnsw_indexed",
      // PERSISTED HNSW: write the sharded graph index (adjacency by id,
      // plain parquet), reload it shard-by-shard, and probe — the
      // build-once/serve-many path. At covering efSearch the reloaded
      // graphs must reproduce exact brute-force top-k, oracle-verified;
      // reload-equivalence with the in-memory build is spec'd.
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val qv = emb.filter(col("vec_id") === 0)
          .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
        val path = java.nio.file.Files
          .createTempDirectory("graft_hnsw_idx").toString
        Similarity.hnswIndexWrite(emb.filter(col("vec_id") =!= 0),
          "embedding", "vec_id", path, shards = 8)
        Similarity.hnswIndexProbe(s, path, qv, 10)
      },
      Some("""
        WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id = 0)
        SELECT vec_id AS id,
               round(list_dot_product(CAST(embedding AS DOUBLE[]), qv) /
                     (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
                      sqrt(list_dot_product(qv, qv))), 6) AS sim
        FROM embeddings, q WHERE vec_id <> 0
        ORDER BY sim DESC, id LIMIT 10""")),

    QueryDef(
      "sim_ann_hnsw_append",
      // HNSW INGEST PATH: index the even vec_ids, APPEND the odd ones
      // (online insertion into reconstructed shard graphs, only touched
      // partitions rewritten), then probe — the merged index must rank
      // the FULL corpus exactly like brute force at covering ef, proving
      // appended nodes are first-class graph citizens, not a side table.
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val qv = emb.filter(col("vec_id") === 0)
          .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
        val path = java.nio.file.Files
          .createTempDirectory("graft_hnsw_app").toString
        val rest = emb.filter(col("vec_id") =!= 0)
        Similarity.hnswIndexWrite(rest.filter(pmod(col("vec_id"), lit(2)) === 0),
          "embedding", "vec_id", path, shards = 8)
        Similarity.hnswIndexAppend(rest.filter(pmod(col("vec_id"), lit(2)) === 1),
          "embedding", "vec_id", path, shards = 8)
        Similarity.hnswIndexProbe(s, path, qv, 10)
      },
      Some("""
        WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id = 0)
        SELECT vec_id AS id,
               round(list_dot_product(CAST(embedding AS DOUBLE[]), qv) /
                     (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
                      sqrt(list_dot_product(qv, qv))), 6) AS sim
        FROM embeddings, q WHERE vec_id <> 0
        ORDER BY sim DESC, id LIMIT 10""")),

    QueryDef(
      "sim_ann_hnsw_delete",
      // HNSW DELETE lifecycle: tombstone a deterministic slice of the
      // indexed corpus (mark-delete — graph surgery would tear small-world
      // connectivity), probe → deleted ids excluded EXACTLY (oracle ranks
      // the surviving corpus); then COMPACT (physical rebuild without the
      // tombstoned nodes, side table cleared) and re-probe → identical
      // ranking, asserted in-gate. Completes the index story:
      // build → append → delete → compact.
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val qv = emb.filter(col("vec_id") === 0)
          .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
        val path = java.nio.file.Files
          .createTempDirectory("graft_hnsw_del").toString
        Similarity.hnswIndexWrite(emb.filter(col("vec_id") =!= 0),
          "embedding", "vec_id", path, shards = 8)
        val doomed = emb.filter(col("vec_id") =!= 0 &&
            pmod(col("vec_id"), lit(7)) === 3)
          .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
        Similarity.hnswIndexDelete(s, path, doomed)
        val probed = Similarity.hnswIndexProbe(s, path, qv, 10)
        val rows = probed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        require(rows.map(_._1).toSet.intersect(doomed.toSet).isEmpty,
          "tombstoned ids leaked into the probe")
        // compaction: rebuilt index must answer identically, side table gone
        Similarity.hnswIndexCompact(s, path)
        val after = Similarity.hnswIndexProbe(s, path, qv, 10)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        require(after == rows,
          s"compacted index diverged: $after vs $rows")
        val t = new org.apache.hadoop.fs.Path(s"$path/_tombstones")
        require(!t.getFileSystem(s.sparkContext.hadoopConfiguration).exists(t),
          "compaction must clear the tombstone table")
        s.createDataFrame(rows).toDF("id", "sim")
      },
      Some("""
        WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id = 0)
        SELECT vec_id AS id,
               round(list_dot_product(CAST(embedding AS DOUBLE[]), qv) /
                     (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
                      sqrt(list_dot_product(qv, qv))), 6) AS sim
        FROM embeddings, q WHERE vec_id <> 0 AND vec_id % 7 <> 3
        ORDER BY sim DESC, id LIMIT 10""")),

    QueryDef(
      "sim_ann_hnsw_batch",
      // BATCH SERVING over the persisted HNSW index: two query vectors
      // answered in one pass — each shard graph reconstructed once for
      // the whole batch (the amortization that makes graph-index serving
      // economical). Exact per-query brute-force ranking at covering ef,
      // replayed by the oracle as a rank window over the cross join.
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val qs = emb.filter(col("vec_id").isin(0, 1))
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => (r.getLong(0),
            r.getAs[scala.collection.Seq[Float]]("embedding").toSeq))
          .toSeq.sortBy(_._1)
        val path = java.nio.file.Files
          .createTempDirectory("graft_hnsw_b").toString
        Similarity.hnswIndexWrite(emb.filter(!col("vec_id").isin(0, 1)),
          "embedding", "vec_id", path, shards = 8)
        Similarity.hnswIndexProbeBatch(s, path, qs, 5)
      },
      Some("""
        WITH qs AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id IN (0, 1)),
        scored AS (
          SELECT q.query_id, e.vec_id AS id,
                 round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) /
                       (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
                        sqrt(list_dot_product(q.qv, q.qv))), 6) AS sim
          FROM embeddings e, qs q WHERE e.vec_id NOT IN (0, 1)),
        ranked AS (
          SELECT query_id, id, sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, id) AS rk
          FROM scored)
        SELECT query_id, id, sim FROM ranked WHERE rk <= 5""")),

    QueryDef(
      "sim_ann_filtered",
      // FILTERED vector search (the metadata-predicate + top-k composition
      // every vector store exposes): brute-force cosine top-k restricted
      // to one label. The predicate evaluates in the SAME scan as the
      // scoring projection — pushdown makes pre- vs post-filter moot here;
      // at index scale the same predicate gates which IVF lists/buckets
      // are opened. Plan: scan → filter+score → TakeOrderedAndProject.
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val qv = emb.filter(col("vec_id") === 0)
          .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
        Similarity.bruteForceTopK(
          emb.filter(col("vec_id") =!= 0 && col("label") === 3),
          "embedding", "vec_id", qv, 10)
      },
      Some("""
        WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id = 0)
        SELECT vec_id AS id,
               round(list_dot_product(CAST(embedding AS DOUBLE[]), qv) /
                     (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
                      sqrt(list_dot_product(qv, qv))), 6) AS sim
        FROM embeddings, q
        WHERE vec_id <> 0 AND label = 3
        ORDER BY sim DESC, id LIMIT 10""")),

    QueryDef(
      "sim_range_search",
      // exact cosine RANGE query (the vector-store API beside top-k): one
      // parallel scan, predicate on the codegen'd cosine, no shuffle; the
      // LSH/IVF prefilters bound candidates at scale exactly as for top-k
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val qv = emb.filter(col("vec_id") === 0)
          .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
        Similarity.rangeSearch(emb.filter(col("vec_id") =!= 0),
          "embedding", "vec_id", qv, threshold = 0.15)
      },
      Some("""
        WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id = 0)
        SELECT vec_id AS id,
               round(list_dot_product(CAST(embedding AS DOUBLE[]), qv) /
                     (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
                      sqrt(list_dot_product(qv, qv))), 6) AS sim
        FROM embeddings, q
        WHERE vec_id <> 0
          AND round(list_dot_product(CAST(embedding AS DOUBLE[]), qv) /
                    (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
                     sqrt(list_dot_product(qv, qv))), 6) >= 0.15""")),

    QueryDef(
      "text_compression_ratio",
      // DEFLATE redundancy signal (Gopher/RefinedWeb family): repetitive
      // text compresses far below prose. zlib output is not replayable in
      // SQL — no oracle; driver records the rows-only check, invariants
      // are spec-verified (CompressionRatioSpec).
      (s, dir) => TextAnalysis.compressionRatio(
        Tables.documents(s, dir), "text", "doc_id"),
      None),

    QueryDef(
      "sim_pairs",
      // %5 sample bounds the quadratic pair count at bench scale
      (s, dir) => Similarity.exactCosinePairs(
        Tables.embeddings(s, dir).filter(col("vec_id") % 5 === 0),
        "embedding", "vec_id", threshold = 0.3),
      Some("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings WHERE vec_id % 5 = 0)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_dot_product(a.v, b.v) /
                     (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
        FROM e a, e b
        WHERE a.vec_id < b.vec_id
          AND list_dot_product(a.v, b.v) /
              (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.3""")),

    QueryDef(
      "sim_pairs_lsh",
      // the scale path for embedding near-dup: bucket by data-derived
      // hyperplane signs, score only within buckets. Same %5 sample as
      // sim_pairs so the two are directly comparable (LSH output ⊆ exact)
      (s, dir) => Similarity.dataPlaneCosinePairs(
        Tables.embeddings(s, dir).filter(col("vec_id") % 5 === 0),
        "embedding", "vec_id", threshold = 0.3, numPlanes = 4),
      Some("""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id % 5 = 0),
        p AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS pj, v AS pv
          FROM e ORDER BY vec_id LIMIT 4),
        b AS (
          SELECT e.vec_id, e.v,
                 CAST(SUM(CASE WHEN list_dot_product(e.v, p.pv) >= 0
                               THEN (1::BIGINT << pj) ELSE 0 END) AS BIGINT) AS bucket
          FROM e, p GROUP BY e.vec_id, e.v)
        SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
               round(list_dot_product(a.v, b2.v) /
                     (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b2.v, b2.v))), 6) AS sim
        FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
        WHERE list_dot_product(a.v, b2.v) /
              (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b2.v, b2.v))) >= 0.3""")),

    QueryDef(
      "sim_pairs_eval",
      // pair-RECALL eval for the bucketed near-dup path: the LSH pair set
      // scored against the exact pair set on the same sample — closes the
      // eval→trust loop for semantic dedup exactly as sim_ann_recall does
      // for top-k and dedup_lsh_eval for MinHash. One row: exact pairs,
      // bucketed pairs, hits, recall.
      (s, dir) => {
        val sample = Tables.embeddings(s, dir).filter(col("vec_id") % 5 === 0)
        val exact = Similarity.exactCosinePairs(sample, "embedding", "vec_id", 0.3)
          .select(col("id_a"), col("id_b"))
        val lsh = Similarity.dataPlaneCosinePairs(sample, "embedding", "vec_id",
            0.3, numPlanes = 4)
          .select(col("id_a"), col("id_b"), lit(1L).as("hit"))
        exact.join(lsh, Seq("id_a", "id_b"), "left_outer")
          .agg(count(lit(1)).as("n_exact"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .crossJoin(broadcast(lsh.agg(count(lit(1)).as("n_lsh"))))
          .select(col("n_exact"), col("n_lsh"), col("n_hit"),
            round(col("n_hit").cast("double") / col("n_exact"), 6).as("recall"))
      },
      Some("""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id % 5 = 0),
        ex AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM e a, e b
          WHERE a.vec_id < b.vec_id
            AND list_dot_product(a.v, b.v) /
                (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.3),
        p AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS pj, v AS pv
          FROM e ORDER BY vec_id LIMIT 4),
        bk AS (
          SELECT e.vec_id, e.v,
                 CAST(SUM(CASE WHEN list_dot_product(e.v, p.pv) >= 0
                               THEN (1::BIGINT << pj) ELSE 0 END) AS BIGINT) AS bucket
          FROM e, p GROUP BY e.vec_id, e.v),
        ls AS (
          SELECT a.vec_id AS id_a, b2.vec_id AS id_b
          FROM bk a JOIN bk b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
          WHERE list_dot_product(a.v, b2.v) /
                (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b2.v, b2.v))) >= 0.3)
        SELECT (SELECT COUNT(*) FROM ex) AS n_exact,
               (SELECT COUNT(*) FROM ls) AS n_lsh,
               (SELECT COUNT(*) FROM ex JOIN ls USING (id_a, id_b)) AS n_hit,
               round(CAST((SELECT COUNT(*) FROM ex JOIN ls USING (id_a, id_b)) AS DOUBLE) /
                     (SELECT COUNT(*) FROM ex), 6) AS recall""")),

    QueryDef(
      "sim_knn_join",
      // ANN as a JOIN: every vector gets its top-3 bucket-local neighbors
      // in one pass — the batch shape ("attach near neighbors to every
      // doc") that per-query top-k can't scale to; same %5 sample as
      // sim_pairs for comparability
      (s, dir) => Similarity.knnJoin(
        Tables.embeddings(s, dir).filter(col("vec_id") % 5 === 0),
        "embedding", "vec_id", k = 3, numPlanes = 4),
      Some("""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id % 5 = 0),
        p AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS pj, v AS pv
          FROM e ORDER BY vec_id LIMIT 4),
        b AS (
          SELECT e.vec_id, e.v,
                 CAST(SUM(CASE WHEN list_dot_product(e.v, p.pv) >= 0
                               THEN (1::BIGINT << pj) ELSE 0 END) AS BIGINT) AS bucket
          FROM e, p GROUP BY e.vec_id, e.v),
        cand AS (
          SELECT a.vec_id AS id, b2.vec_id AS neighbor_id,
                 round(list_dot_product(a.v, b2.v) /
                       (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b2.v, b2.v))), 6) AS sim
          FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id <> b2.vec_id),
        r AS (
          SELECT id, neighbor_id, sim,
                 row_number() OVER (PARTITION BY id ORDER BY sim DESC, neighbor_id) AS nn_rank
          FROM cand)
        SELECT id, neighbor_id, nn_rank, sim FROM r WHERE nn_rank <= 3""")),

    QueryDef(
      "sim_knn_classify",
      // weak labeling: every unlabeled probe (%5 sample) takes the
      // majority label of its 5 nearest labeled neighbors in its LSH
      // bucket — ties → more votes, then smaller label. One bucket join,
      // top-k pruned below the shuffle, one vote aggregate.
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.knnClassify(
          emb.filter(col("vec_id") % 5 === 0),
          emb.filter(col("vec_id") % 5 =!= 0),
          "embedding", "vec_id", "label", k = 5, numPlanes = 4)
      },
      Some("""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
          FROM embeddings),
        p AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS pj, v AS pv
          FROM e WHERE vec_id % 5 <> 0 ORDER BY vec_id LIMIT 4),
        pb AS (
          SELECT e.vec_id AS id, e.v,
                 CAST(SUM(CASE WHEN list_dot_product(e.v, p.pv) >= 0
                               THEN (1::BIGINT << pj) ELSE 0 END) AS BIGINT) AS bucket
          FROM e, p WHERE e.vec_id % 5 = 0 GROUP BY e.vec_id, e.v),
        cb AS (
          SELECT e.vec_id AS nid, e.label, e.v AS w,
                 CAST(SUM(CASE WHEN list_dot_product(e.v, p.pv) >= 0
                               THEN (1::BIGINT << pj) ELSE 0 END) AS BIGINT) AS bucket
          FROM e, p WHERE e.vec_id % 5 <> 0 GROUP BY e.vec_id, e.label, e.v),
        nb AS (
          SELECT pb.id, cb.nid, cb.label,
                 round(list_dot_product(pb.v, cb.w) /
                       (sqrt(list_dot_product(pb.v, pb.v)) * sqrt(list_dot_product(cb.w, cb.w))), 6) AS sim
          FROM pb JOIN cb USING (bucket)),
        rk AS (
          SELECT id, label,
                 row_number() OVER (PARTITION BY id ORDER BY sim DESC, nid) AS r
          FROM nb),
        votes AS (
          SELECT id, label, COUNT(*) AS votes FROM rk WHERE r <= 5
          GROUP BY id, label),
        best AS (
          SELECT id, label, votes,
                 row_number() OVER (PARTITION BY id ORDER BY votes DESC, label) AS vr
          FROM votes)
        SELECT id, CAST(label AS BIGINT) AS pred_label,
               CAST(votes AS BIGINT) AS votes
        FROM best WHERE vr = 1""")),

    QueryDef(
      "sim_class_centroids",
      // class prototypes: element-wise mean embedding per label (the
      // "centroid per class" primitive behind prototype classification and
      // semantic-dedup seeding). posexplode → (label, pos) partial-agg —
      // the shuffle carries one row per (label, dim), never a vector.
      // Components quantize to 2^-20 grid BEFORE summing so the aggregate
      // is integer-exact and order-independent (a raw double sum would be
      // partition-order nondeterministic). The gate emits long-form scalar
      // rows (label, pos, m, n_vecs); Similarity.classCentroids packs the
      // same means into array<double> for library callers.
      (s, dir) =>
        Similarity.classCentroidsLong(Tables.embeddings(s, dir),
          "embedding", "label"),
      Some("""
        WITH x AS (
          SELECT label, i - 1 AS pos,
                 CAST(floor(v[i] * 1048576) AS BIGINT) AS q
          FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
               (SELECT unnest(generate_series(1, 64)) AS i) t)
        SELECT label, pos,
               round(CAST(SUM(q) AS DOUBLE) / COUNT(*) / 1048576, 6) AS m,
               COUNT(*) AS n_vecs
        FROM x GROUP BY label, pos""")),

    QueryDef(
      "sim_drift",
      // embedding DRIFT monitor: per-label centroid of the reference half
      // (even vec_ids) vs the current half (odd) and the squared distance
      // between them — the production check that a corpus refresh or a new
      // encoder hasn't moved the embedding space. Centroids on the 2^-20
      // grid with floor-div means, drift summed in BIGINT: integer-exact,
      // order-independent. The shuffle carries (label, half, dim) scalar
      // rows, never vectors; output is labels-sized.
      (s, dir) => {
        val pts = Tables.embeddings(s, dir).select(
          col("label"), (col("vec_id") % 2 === 0).as("ref"),
          posexplode(transform(col("embedding"),
            x => floor(x.cast("double") * lit(1048576d)).cast("long")))
            .as(Seq("pos", "q")))
        val cents = pts.groupBy(col("label"), col("ref"), col("pos"))
          .agg(floor(sum(col("q")).cast("double") / count(lit(1)))
            .cast("long").as("c"),
            count(lit(1)).as("n"))
        val ref = cents.filter(col("ref")).select(col("label"), col("pos"),
          col("c").as("cr"), col("n").as("nr"))
        val cur = cents.filter(!col("ref")).select(col("label"), col("pos"),
          col("c").as("cc"), col("n").as("nc"))
        ref.join(cur, Seq("label", "pos"))
          .groupBy(col("label"))
          .agg(max(col("nr")).cast("long").as("n_ref"),
            max(col("nc")).cast("long").as("n_cur"),
            sum((col("cr") - col("cc")) * (col("cr") - col("cc"))).as("drift"))
      },
      Some("""
        WITH x AS (
          SELECT label, vec_id % 2 = 0 AS ref, i - 1 AS pos,
                 CAST(floor(v[i] * 1048576) AS BIGINT) AS q
          FROM (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
               (SELECT unnest(generate_series(1, 64)) AS i) t),
        c AS (SELECT label, ref, pos,
                     CAST(floor(SUM(q) / COUNT(*)) AS BIGINT) AS c,
                     COUNT(*) AS n
              FROM x GROUP BY 1, 2, 3),
        r AS (SELECT label, pos, c AS cr, n AS nr FROM c WHERE ref),
        u AS (SELECT label, pos, c AS cc, n AS nc FROM c WHERE NOT ref)
        SELECT label,
               CAST(MAX(nr) AS BIGINT) AS n_ref,
               CAST(MAX(nc) AS BIGINT) AS n_cur,
               CAST(SUM((cr - cc) * (cr - cc)) AS BIGINT) AS drift
        FROM r JOIN u USING (label, pos) GROUP BY label""")),

    QueryDef(
      "sim_outliers",
      // label-OUTLIER detection (mislabel candidates): the 5 vectors
      // farthest from their own class centroid, per label — the standard
      // data-quality sweep before training a classifier on labeled
      // embeddings. Centroids on the 2^-20 grid via floor-div means; the
      // distance pass is a (label,pos) join + per-vector aggregate (no
      // driver pull — scales to any label count); the per-label top-5 is
      // a rank filter Spark rewrites to WindowGroupLimit below the
      // exchange. All-integer distances: both engines rank identically.
      (s, dir) => {
        val pts = Tables.embeddings(s, dir).select(
          col("label"), col("vec_id"),
          posexplode(transform(col("embedding"),
            x => floor(x.cast("double") * lit(1048576d)).cast("long")))
            .as(Seq("pos", "q")))
        val cents = pts.groupBy(col("label"), col("pos"))
          .agg(floor(sum(col("q")).cast("double") / count(lit(1)))
            .cast("long").as("c"))
        val d2 = pts.join(cents, Seq("label", "pos"))
          .groupBy(col("label"), col("vec_id"))
          .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("d2"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("label"))
          .orderBy(col("d2").desc, col("vec_id"))
        d2.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 5)
          .select(col("label"), col("vec_id"), col("d2"), col("rk"))
      },
      Some("""
        WITH x AS (
          SELECT label, vec_id, i - 1 AS pos,
                 CAST(floor(v[i] * 1048576) AS BIGINT) AS q
          FROM (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
               (SELECT unnest(generate_series(1, 64)) AS i) t),
        c AS (SELECT label, pos,
                     CAST(floor(SUM(q) / COUNT(*)) AS BIGINT) AS c
              FROM x GROUP BY 1, 2),
        d AS (SELECT x.label, x.vec_id,
                     SUM((x.q - c.c) * (x.q - c.c)) AS d2
              FROM x JOIN c USING (label, pos) GROUP BY 1, 2)
        SELECT label, vec_id, CAST(d2 AS BIGINT) AS d2, rk FROM (
          SELECT label, vec_id, d2,
                 row_number() OVER (PARTITION BY label
                                    ORDER BY d2 DESC, vec_id) AS rk
          FROM d) WHERE rk <= 5""")),

    QueryDef(
      "sim_kmeans",
      // integer-exact Lloyd clustering on the 2^-20 grid: init = k lowest
      // ids, two update rounds, final assignment. All-BIGINT distances and
      // floor-div centroid updates make the whole trajectory
      // aggregation-order independent, so the oracle replays every round
      // bit-for-bit (the float-avg kmeansCentroids twin powering IVF can
      // only be spec-checked; this gate gives the clustering family a
      // hash-verifiable row).
      (s, dir) =>
        Similarity.kmeansAssignQ(Tables.embeddings(s, dir),
          "embedding", "vec_id", k = 8, iters = 2),
      Some("""
        WITH pts AS (
          SELECT vec_id AS id, i - 1 AS pos,
                 CAST(floor(v[i] * 1048576) AS BIGINT) AS q
          FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
               (SELECT unnest(generate_series(1, 64)) AS i) t),
        init AS (
          SELECT row_number() OVER (ORDER BY id) - 1 AS cl, id
          FROM (SELECT DISTINCT id FROM pts ORDER BY id LIMIT 8)),
        c0 AS (SELECT init.cl, p.pos, p.q AS c FROM pts p JOIN init ON p.id = init.id),
        d1 AS (SELECT p.id, c.cl, SUM((p.q - c.c) * (p.q - c.c)) AS dist
               FROM pts p JOIN c0 c ON p.pos = c.pos GROUP BY p.id, c.cl),
        a1 AS (SELECT id, cl FROM (
                 SELECT id, cl, row_number() OVER (PARTITION BY id ORDER BY dist, cl) AS rn
                 FROM d1) WHERE rn = 1),
        c1 AS (SELECT a.cl, p.pos,
                      CAST(floor(CAST(SUM(p.q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
               FROM pts p JOIN a1 a ON p.id = a.id GROUP BY a.cl, p.pos),
        d2 AS (SELECT p.id, c.cl, SUM((p.q - c.c) * (p.q - c.c)) AS dist
               FROM pts p JOIN c1 c ON p.pos = c.pos GROUP BY p.id, c.cl),
        a2 AS (SELECT id, cl FROM (
                 SELECT id, cl, row_number() OVER (PARTITION BY id ORDER BY dist, cl) AS rn
                 FROM d2) WHERE rn = 1),
        c2 AS (SELECT a.cl, p.pos,
                      CAST(floor(CAST(SUM(p.q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
               FROM pts p JOIN a2 a ON p.id = a.id GROUP BY a.cl, p.pos),
        d3 AS (SELECT p.id, c.cl, SUM((p.q - c.c) * (p.q - c.c)) AS dist
               FROM pts p JOIN c2 c ON p.pos = c.pos GROUP BY p.id, c.cl)
        SELECT id AS vec_id, cl AS cluster, CAST(dist AS BIGINT) AS dist FROM (
          SELECT id, cl, dist, row_number() OVER (PARTITION BY id ORDER BY dist, cl) AS rn
          FROM d3) WHERE rn = 1""")),

    QueryDef(
      "sim_ann_lsh",
      // data-derived hyperplanes (lowest-id vectors as normals) make the
      // whole index deterministic and oracle-replayable; the murmur-seeded
      // lshTopK stays the data-independent variant, spec-verified
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val qv = emb.filter(col("vec_id") === 0)
          .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
        Similarity.dataPlaneLshTopK(emb.filter(col("vec_id") =!= 0),
          "embedding", "vec_id", qv, 20, numPlanes = 6)
      },
      Some("""
        WITH q AS (
          SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        p AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS pj,
                 CAST(embedding AS DOUBLE[]) AS pv
          FROM embeddings WHERE vec_id <> 0 ORDER BY vec_id LIMIT 6),
        e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id <> 0),
        b AS (
          SELECT e.vec_id, e.v,
                 CAST(SUM(CASE WHEN list_dot_product(e.v, p.pv) >= 0
                               THEN (1::BIGINT << pj) ELSE 0 END) AS BIGINT) AS bucket
          FROM e, p GROUP BY e.vec_id, e.v),
        qb AS (
          SELECT CAST(SUM(CASE WHEN list_dot_product(q.qv, p.pv) >= 0
                               THEN (1::BIGINT << pj) ELSE 0 END) AS BIGINT) AS bucket
          FROM q, p)
        SELECT vec_id AS id,
               round(list_dot_product(v, qv) /
                     (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS sim
        FROM b, q, qb WHERE b.bucket = qb.bucket
        ORDER BY sim DESC, id LIMIT 20""")),

    QueryDef(
      "sim_ann_lsh_multiprobe",
      // multi-probe LSH (Lv et al.): also scan the numPlanes buckets one
      // hyperplane-flip away — near misses sit just across ONE plane, so
      // probing 1+numPlanes buckets of a single table buys the recall that
      // would otherwise cost numPlanes independent hash tables of storage.
      // The oracle's probe set is `hamming(bucket, qbucket) <= 1`.
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val qv = emb.filter(col("vec_id") === 0)
          .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
        Similarity.dataPlaneLshTopKMultiProbe(emb.filter(col("vec_id") =!= 0),
          "embedding", "vec_id", qv, 20, numPlanes = 6, flips = 1)
      },
      Some("""
        WITH q AS (
          SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        p AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS pj,
                 CAST(embedding AS DOUBLE[]) AS pv
          FROM embeddings WHERE vec_id <> 0 ORDER BY vec_id LIMIT 6),
        e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id <> 0),
        b AS (
          SELECT e.vec_id, e.v,
                 CAST(SUM(CASE WHEN list_dot_product(e.v, p.pv) >= 0
                               THEN (1::BIGINT << pj) ELSE 0 END) AS BIGINT) AS bucket
          FROM e, p GROUP BY e.vec_id, e.v),
        qb AS (
          SELECT CAST(SUM(CASE WHEN list_dot_product(q.qv, p.pv) >= 0
                               THEN (1::BIGINT << pj) ELSE 0 END) AS BIGINT) AS bucket
          FROM q, p)
        SELECT vec_id AS id,
               round(list_dot_product(v, qv) /
                     (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS sim
        FROM b, q, qb WHERE bit_count(xor(b.bucket, qb.bucket)) <= 1
        ORDER BY sim DESC, id LIMIT 20""")),

    QueryDef(
      "sim_ann_recall",
      // the evaluation harness every ANN deployment needs before trusting
      // an approximate index: recall@k of the LSH answer against exact
      // brute-force ground truth, on the same deterministic ordering
      // (round-6 cosine desc, id asc) both engines replay. Ground truth is
      // a TakeOrdered (k rows to the driver merge), the index answer scans
      // one bucket; the rank windows and k-grid join touch ≤ max(k) rows.
      // The synthetic embeddings are near-isotropic, so single-probe
      // single-table recall is LOW (~0.15-0.2) — which is precisely the
      // measurement: the eval exists to tell you your index needs more
      // probes/tables before you trust it.
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val qv = emb.filter(col("vec_id") === 0)
          .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
        Similarity.annRecallAtK(emb.filter(col("vec_id") =!= 0),
          "embedding", "vec_id", qv, ks = Seq(1, 5, 10, 20), numPlanes = 3)
      },
      Some("""
        WITH q AS (
          SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id <> 0),
        sims AS (
          SELECT vec_id AS id,
                 round(list_dot_product(v, qv) /
                       (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS sim
          FROM e, q),
        brute AS (
          SELECT id, row_number() OVER (ORDER BY sim DESC, id) AS rk_b
          FROM sims ORDER BY sim DESC, id LIMIT 20),
        p AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS pj,
                 CAST(embedding AS DOUBLE[]) AS pv
          FROM embeddings WHERE vec_id <> 0 ORDER BY vec_id LIMIT 3),
        b AS (
          SELECT e.vec_id, e.v,
                 CAST(SUM(CASE WHEN list_dot_product(e.v, p.pv) >= 0
                               THEN (1::BIGINT << pj) ELSE 0 END) AS BIGINT) AS bucket
          FROM e, p GROUP BY e.vec_id, e.v),
        qb AS (
          SELECT CAST(SUM(CASE WHEN list_dot_product(q.qv, p.pv) >= 0
                               THEN (1::BIGINT << pj) ELSE 0 END) AS BIGINT) AS bucket
          FROM q, p),
        lsh0 AS (
          SELECT vec_id AS id,
                 round(list_dot_product(v, qv) /
                       (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS sim
          FROM b, q, qb WHERE b.bucket = qb.bucket),
        lsh AS (
          SELECT id, row_number() OVER (ORDER BY sim DESC, id) AS rk_l
          FROM lsh0 ORDER BY sim DESC, id LIMIT 20),
        ks AS (SELECT unnest([1, 5, 10, 20]) AS k)
        SELECT k, COUNT(*) AS n_hits,
               round(CAST(COUNT(*) AS DOUBLE) / k, 6) AS recall
        FROM brute JOIN lsh USING (id), ks
        WHERE rk_b <= k AND rk_l <= k
        GROUP BY k""")),

    QueryDef(
      "sim_ann_recall_multiprobe",
      // the eval loop closed: sim_ann_recall measured single-probe recall,
      // multi-probe was the prescribed fix, this gate re-measures with
      // 1-flip probing on the SAME setup — the improvement is data, not a
      // claim (3-plane single-probe vs 3-plane+flips on this corpus).
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val qv = emb.filter(col("vec_id") === 0)
          .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
        Similarity.annRecallAtK(emb.filter(col("vec_id") =!= 0),
          "embedding", "vec_id", qv, ks = Seq(1, 5, 10, 20), numPlanes = 3,
          multiProbe = true)
      },
      Some("""
        WITH q AS (
          SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id <> 0),
        sims AS (
          SELECT vec_id AS id,
                 round(list_dot_product(v, qv) /
                       (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS sim
          FROM e, q),
        brute AS (
          SELECT id, row_number() OVER (ORDER BY sim DESC, id) AS rk_b
          FROM sims ORDER BY sim DESC, id LIMIT 20),
        p AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS pj,
                 CAST(embedding AS DOUBLE[]) AS pv
          FROM embeddings WHERE vec_id <> 0 ORDER BY vec_id LIMIT 3),
        b AS (
          SELECT e.vec_id, e.v,
                 CAST(SUM(CASE WHEN list_dot_product(e.v, p.pv) >= 0
                               THEN (1::BIGINT << pj) ELSE 0 END) AS BIGINT) AS bucket
          FROM e, p GROUP BY e.vec_id, e.v),
        qb AS (
          SELECT CAST(SUM(CASE WHEN list_dot_product(q.qv, p.pv) >= 0
                               THEN (1::BIGINT << pj) ELSE 0 END) AS BIGINT) AS bucket
          FROM q, p),
        lsh0 AS (
          SELECT vec_id AS id,
                 round(list_dot_product(v, qv) /
                       (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS sim
          FROM b, q, qb WHERE bit_count(xor(b.bucket, qb.bucket)) <= 1),
        lsh AS (
          SELECT id, row_number() OVER (ORDER BY sim DESC, id) AS rk_l
          FROM lsh0 ORDER BY sim DESC, id LIMIT 20),
        ks AS (SELECT unnest([1, 5, 10, 20]) AS k)
        SELECT k, COUNT(*) AS n_hits,
               round(CAST(COUNT(*) AS DOUBLE) / k, 6) AS recall
        FROM brute JOIN lsh USING (id), ks
        WHERE rk_b <= k AND rk_l <= k
        GROUP BY k""")),

    QueryDef(
      "sim_ann_ivf",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val qv = emb.filter(col("vec_id") === 0)
          .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
        Similarity.ivfTopK(emb.filter(col("vec_id") =!= 0),
          "embedding", "vec_id", qv, 20, nCells = 8, nProbe = 2)
      },
      // the whole IVF index is deterministic (centroids = 8 lowest ids,
      // argmax-cosine assignment with lowest-index tiebreak), so DuckDB can
      // rebuild it: cosine folds are bit-identical across engines
      Some("""
        WITH q AS (
          SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        c AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci,
                 CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings WHERE vec_id <> 0 ORDER BY vec_id LIMIT 8),
        e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id <> 0),
        assign AS (
          SELECT e.vec_id, e.v,
                 (SELECT ci FROM c
                  ORDER BY list_dot_product(e.v, c.cv) /
                           (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                           ci ASC LIMIT 1) AS cell
          FROM e),
        qcells AS (
          SELECT ci FROM c, q
          ORDER BY list_dot_product(q.qv, c.cv) /
                   (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                   ci ASC LIMIT 2)
        SELECT vec_id AS id,
               round(list_dot_product(v, qv) /
                     (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS sim
        FROM assign, q WHERE cell IN (SELECT ci FROM qcells)
        ORDER BY sim DESC, id LIMIT 20""")),

    QueryDef(
      "sim_ann_ivf_indexed",
      // the PERSISTED-index IVF path: assignments written once, laid out
      // one directory per cell; probe = partition-pruned scan of the
      // nProbe nearest cells (PartitionFilters in the plan — the scan
      // physically skips the other cells' directories). Same centroid
      // rule and probe semantics as sim_ann_ivf, so the same oracle
      // replays it.
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val corpus = emb.filter(col("vec_id") =!= 0)
        val qv = emb.filter(col("vec_id") === 0)
          .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
        val centroids = corpus.select(col("vec_id").as("id"), col("embedding").as("v"))
          .orderBy(col("id")).limit(8).collect()
          .map(_.getAs[scala.collection.Seq[Float]]("v").toSeq.map(_.toDouble)).toSeq
        val root = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
        Similarity.ivfIndexWrite(corpus, "embedding", "vec_id", centroids, s"$root/ivf")
        Similarity.ivfIndexProbe(s, s"$root/ivf", centroids, qv, 20, nProbe = 2)
      },
      Some("""
        WITH q AS (
          SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        c AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci,
                 CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings WHERE vec_id <> 0 ORDER BY vec_id LIMIT 8),
        e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id <> 0),
        assign AS (
          SELECT e.vec_id, e.v,
                 (SELECT ci FROM c
                  ORDER BY list_dot_product(e.v, c.cv) /
                           (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                           ci ASC LIMIT 1) AS cell
          FROM e),
        qcells AS (
          SELECT ci FROM c, q
          ORDER BY list_dot_product(q.qv, c.cv) /
                   (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                   ci ASC LIMIT 2)
        SELECT vec_id AS id,
               round(list_dot_product(v, qv) /
                     (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS sim
        FROM assign, q WHERE cell IN (SELECT ci FROM qcells)
        ORDER BY sim DESC, id LIMIT 20""")),

    QueryDef(
      "sim_ann_ivf_compact",
      // index MAINTENANCE: initial write + two incremental appends (each
      // leaving its own small files per cell, the vector-store ingest
      // tail), then ivfIndexCompact merges the small-file runs per cell.
      // The probe answer must be byte-identical to sim_ann_ivf_indexed's
      // — compaction changes file layout, never content — so the same
      // oracle replays it; the layout claim (fewer files, same rows) is
      // asserted by IvfCompactSpec.
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val corpus = emb.filter(col("vec_id") =!= 0)
        val qv = emb.filter(col("vec_id") === 0)
          .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
        val centroids = corpus.select(col("vec_id").as("id"), col("embedding").as("v"))
          .orderBy(col("id")).limit(8).collect()
          .map(_.getAs[scala.collection.Seq[Float]]("v").toSeq.map(_.toDouble)).toSeq
        val root = java.nio.file.Files.createTempDirectory("graft_ivf_cpt").toString
        Similarity.ivfIndexWrite(corpus.filter(col("vec_id") % 3 === 1),
          "embedding", "vec_id", centroids, s"$root/ivf")
        Similarity.ivfIndexAppend(corpus.filter(col("vec_id") % 3 === 2),
          "embedding", "vec_id", centroids, s"$root/ivf")
        Similarity.ivfIndexAppend(corpus.filter(col("vec_id") % 3 === 0),
          "embedding", "vec_id", centroids, s"$root/ivf")
        Similarity.ivfIndexCompact(s, s"$root/ivf")
        Similarity.ivfIndexProbe(s, s"$root/ivf", centroids, qv, 20, nProbe = 2)
      },
      Some("""
        WITH q AS (
          SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        c AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci,
                 CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings WHERE vec_id <> 0 ORDER BY vec_id LIMIT 8),
        e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id <> 0),
        assign AS (
          SELECT e.vec_id, e.v,
                 (SELECT ci FROM c
                  ORDER BY list_dot_product(e.v, c.cv) /
                           (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                           ci ASC LIMIT 1) AS cell
          FROM e),
        qcells AS (
          SELECT ci FROM c, q
          ORDER BY list_dot_product(q.qv, c.cv) /
                   (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                   ci ASC LIMIT 2)
        SELECT vec_id AS id,
               round(list_dot_product(v, qv) /
                     (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS sim
        FROM assign, q WHERE cell IN (SELECT ci FROM qcells)
        ORDER BY sim DESC, id LIMIT 20""")),

    QueryDef(
      "sim_index_stats",
      // index HEALTH report: per-cell vector counts and id ranges read
      // back from the persisted layout — the list-size balance check a
      // vector store runs to decide when centroids need retraining
      // (skewed cells = degraded probe pruning). Proves the directory
      // layout holds exactly the assignment the centroid rule dictates.
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val corpus = emb.filter(col("vec_id") =!= 0)
        val centroids = corpus.select(col("vec_id").as("id"), col("embedding").as("v"))
          .orderBy(col("id")).limit(8).collect()
          .map(_.getAs[scala.collection.Seq[Float]]("v").toSeq.map(_.toDouble)).toSeq
        val root = java.nio.file.Files.createTempDirectory("graft_ivf_st").toString
        Similarity.ivfIndexWrite(corpus, "embedding", "vec_id", centroids, s"$root/ivf")
        s.read.parquet(s"$root/ivf")
          .groupBy(col("cell"))
          .agg(count(lit(1)).as("n_vecs"),
            min(col("id")).as("min_id"), max(col("id")).as("max_id"))
      },
      Some("""
        WITH c AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci,
                 CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings WHERE vec_id <> 0 ORDER BY vec_id LIMIT 8),
        e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id <> 0),
        assign AS (
          SELECT e.vec_id,
                 (SELECT ci FROM c
                  ORDER BY list_dot_product(e.v, c.cv) /
                           (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                           ci ASC LIMIT 1) AS cell
          FROM e)
        SELECT CAST(cell AS INTEGER) AS cell, COUNT(*) AS n_vecs,
               MIN(vec_id) AS min_id, MAX(vec_id) AS max_id
        FROM assign GROUP BY 1""")),

    QueryDef(
      "pipeline_sample_split",
      // reproducible corpus splitting: hash-bucket membership is a pure
      // function of doc_id, identical in any engine / partitioning / run
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.operators.Sampling.splitTag(col("doc_id"), 90, 5).as("split"))
        .groupBy(col("split")).agg(count(lit(1)).as("n")),
      Some(s"""
        SELECT CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
                    ELSE 'test' END AS split, COUNT(*) AS n
        FROM (SELECT ${OracleSql.md5Hash60("doc_id")} % 100 AS b FROM documents)
        GROUP BY 1""")),

    QueryDef(
      "pipeline_split_leakage_safe",
      // LEAKAGE-SAFE SPLIT: duplicate clusters never span train/val/test
      // (the contamination-by-construction an i.i.d. doc-hash split
      // produces). Edges here are exact-text duplicates so the oracle can
      // replay the clustering; any near-dup pair family plugs into the
      // same operator. The no-span invariant is asserted in-gate; the
      // per-split doc/cluster counts replay through the md5 bucket mirror.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, dir)
        val rep = docs.select(col("doc_id"),
          min(col("doc_id")).over(Window.partitionBy(col("text"))).as("rep"))
        val pairs = rep.filter(col("doc_id") =!= col("rep"))
          .select(col("rep").as("id_a"), col("doc_id").as("id_b"))
        val split = graft.operators.Sampling.leakageSafeSplit(
          docs, "doc_id", pairs)
        require(split.groupBy(col("cluster_rep"))
          .agg(countDistinct(col("split")).as("k"))
          .filter(col("k") > 1).isEmpty, "a duplicate cluster spans splits")
        split.groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("cluster_rep")).as("n_clusters"))
      },
      Some(s"""
        WITH rep AS (
          SELECT doc_id, MIN(doc_id) OVER (PARTITION BY text) AS rep
          FROM documents),
        tag AS (
          SELECT doc_id, rep,
                 CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
                      ELSE 'test' END AS split
          FROM (SELECT doc_id, rep, ${OracleSql.md5Hash60("rep")} % 100 AS b
                FROM rep))
        SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT rep) AS n_clusters
        FROM tag GROUP BY 1""")),

    QueryDef(
      "pipeline_shuffle",
      // deterministic global shuffle for training order: every doc's
      // position is its rank in content-hash order — reproducible across
      // runs/engines/cluster sizes. Assigned by range-partitioned sort +
      // partition-prefix sums (zipWithIndex), never a single-task global
      // sort; the 8-byte sort key is row-width-independent.
      (s, dir) => graft.operators.Sampling.globalShuffle(
          Tables.documents(s, dir).select(col("doc_id")), "doc_id", seed = 7L)
        .select(col("pos"), col("doc_id")),
      Some(s"""
        SELECT row_number() OVER (ORDER BY h, doc_id) - 1 AS pos, doc_id
        FROM (SELECT doc_id,
                ${OracleSql.md5Hash60("'7:' || doc_id")} AS h
              FROM documents)""")),

    QueryDef(
      "pipeline_dataset_card",
      // the one-row release artifact every curated corpus ships with:
      // volume (docs/tokens/chars), provenance breadth (langs/sources),
      // exact-duplicate rate, and mean quality — every number either an
      // exact integer count or floor-quantized on the 1e-6 grid, so the
      // whole card replays. ONE aggregation job (Catalyst plans the
      // multiple count-distincts as a single Expand + two-stage agg; at
      // 100 TB swap exact distincts for hll60 — same shape, no Expand).
      (s, dir) => {
        import graft.operators.TextAnalysis
        val d = Tables.documents(s, dir)
        d.agg(
          count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens"),
          sum(length(col("text"))).as("n_chars"),
          count_distinct(col("text")).as("n_distinct_text"),
          count_distinct(col("lang")).as("n_langs"),
          count_distinct(col("source")).as("n_sources"),
          sum(floor(TextAnalysis.qualityScore(col("text")) * lit(1e6)).cast("long"))
            .as("qsum"))
        .select(col("n_docs"), col("n_tokens"), col("n_chars"),
          col("n_langs"), col("n_sources"),
          floor(lit(1e6) * (col("n_docs") - col("n_distinct_text")).cast("double") /
            col("n_docs")).cast("long").as("dup_rate_q"),
          floor(col("qsum").cast("double") / col("n_docs")).cast("long")
            .as("mean_quality_q"))
      },
      Some("""
        WITH a AS (
          SELECT COUNT(*) AS n_docs,
                 SUM(len(regexp_extract_all(text, '[^ ]+'))) AS n_tokens,
                 SUM(length(text)) AS n_chars,
                 COUNT(DISTINCT text) AS n_distinct_text,
                 COUNT(DISTINCT lang) AS n_langs,
                 COUNT(DISTINCT source) AS n_sources,
                 SUM(CAST(floor(round(
                   least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5 +
                   least(CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|a|is|it|for|on)\b')) AS DOUBLE)
                         / (CAST(len(regexp_extract_all(text, '[^ ]+')) AS DOUBLE) + 1.0) * 5.0, 1.0) * 0.3 +
                   (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
                          / (CAST(length(text) AS DOUBLE) + 1.0)) * 0.2, 6) * 1000000.0) AS BIGINT)) AS qsum
          FROM documents)
        SELECT n_docs,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(n_chars AS BIGINT) AS n_chars,
               n_langs, n_sources,
               CAST(floor(1000000.0 * CAST(n_docs - n_distinct_text AS DOUBLE) / n_docs) AS BIGINT) AS dup_rate_q,
               CAST(floor(CAST(qsum AS DOUBLE) / n_docs) AS BIGINT) AS mean_quality_q
        FROM a""")),

    QueryDef(
      "pipeline_curate",
      // the canonical curation pipeline as ONE declarative query: quality
      // gate -> language filter -> exact dedup (keep lowest id) -> stable
      // 50% sample. Every stage is an operator verified elsewhere; this
      // entry verifies their COMPOSITION end-to-end.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val scored = docs.select(col("doc_id"), col("text"),
            TextAnalysis.qualityScore(col("text")).as("quality"),
            TextAnalysis.langId(col("text")).as("lang"))
          .filter(col("quality") >= 0.5 && col("lang") === "en")
        val deduped = scored.groupBy(col("text"))
          .agg(min(col("doc_id")).as("doc_id"), min(col("quality")).as("quality"))
        graft.operators.Sampling.hashSample(deduped, "doc_id", 50)
          .select(col("doc_id"), col("quality"))
      },
      Some(s"""
        WITH scored AS (
          SELECT doc_id, text,
                 round(
                   least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5 +
                   least(CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|a|is|it|for|on)\\b')) AS DOUBLE)
                         / (CAST(len(regexp_extract_all(text, '[^ ]+')) AS DOUBLE) + 1.0) * 5.0, 1.0) * 0.3 +
                   (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
                          / (CAST(length(text) AS DOUBLE) + 1.0)) * 0.2, 6) AS quality,
                 len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|that|it)\\b')) AS s_en,
                 len(regexp_extract_all(lower(text), '\\b(el|la|los|las|de|que|y|es)\\b')) AS s_es,
                 len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist|nicht|ein)\\b')) AS s_de,
                 len(regexp_extract_all(lower(text), '\\b(le|les|des|et|est|une|dans)\\b')) AS s_fr,
                 len(regexp_extract_all(lower(text), '[\\x{4e00}-\\x{9fff}]')) AS s_zh
          FROM documents),
        filtered AS (
          SELECT doc_id, text, quality FROM scored
          WHERE quality >= 0.5 AND s_en > 0
            AND s_en = greatest(s_en, s_es, s_de, s_fr, s_zh)),
        deduped AS (
          SELECT MIN(doc_id) AS doc_id, MIN(quality) AS quality
          FROM filtered GROUP BY text)
        SELECT doc_id, quality FROM deduped
        WHERE ${OracleSql.md5Hash60("doc_id")} % 100 < 50""")),

    QueryDef(
      "multimodal_features",
      (s, dir) => Multimodal.decodeAndFeaturize(
        Multimodal.asMedia(Tables.documents(s, dir)))
        .toDF()
        .select(col("doc_id"), col("payload_len"), col("thumb_w"), col("thumb_h")),
      Some("""
        SELECT doc_id,
               octet_length(encode(text)) AS payload_len,
               CASE WHEN greatest(length(text) % 640 + 16, length(text) % 480 + 16) <= 256
                    THEN length(text) % 640 + 16
                    ELSE CAST((length(text) % 640 + 16) * 256 //
                              greatest(length(text) % 640 + 16, length(text) % 480 + 16) AS INT)
               END AS thumb_w,
               CASE WHEN greatest(length(text) % 640 + 16, length(text) % 480 + 16) <= 256
                    THEN length(text) % 480 + 16
                    ELSE CAST((length(text) % 480 + 16) * 256 //
                              greatest(length(text) % 640 + 16, length(text) % 480 + 16) AS INT)
               END AS thumb_h
        FROM documents""")),

    QueryDef(
      "multimodal_frames",
      (s, dir) => Multimodal.frameSample(
        Multimodal.asMedia(Tables.documents(s, dir)).toDF())
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sampled"), sum(col("frame_len")).as("bytes_sampled")),
      // frame i of a doc covers chars [256*i, 256*i+256); every 4th kept
      // (documents are ASCII with no newlines, so Spark's regex framing ==
      // arithmetic framing over length)
      Some("""
        WITH f AS (
          SELECT doc_id, length(text) AS L,
                 unnest(generate_series(0, CAST(length(text) AS BIGINT)//256)) AS i
          FROM documents)
        SELECT doc_id, COUNT(*) AS n_sampled,
               CAST(SUM(least(256, L - 256*i)) AS BIGINT) AS bytes_sampled
        FROM f WHERE i % 4 = 0 AND L - 256*i > 0
        GROUP BY doc_id""")),

    QueryDef(
      "multimodal_phash",
      // perceptual average-hash of each media payload: 64 positional byte
      // cells, bit j set iff cell j beats the payload mean (integer-exact
      // acc*64 > total). Oracle replays the fold from the hex-decoded
      // bytes in HUGEINT arithmetic.
      (s, dir) => Multimodal.phashes(
        Multimodal.asMedia(Tables.documents(s, dir)).toDF()),
      Some("""
        WITH b AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents),
        v AS (
          SELECT doc_id, list_transform(generate_series(1, length(hx)//2),
                   i -> 16*(strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1))-1)
                        + (strpos('0123456789ABCDEF', substr(hx, 2*i, 1))-1)) AS bs
          FROM b),
        cells AS (
          SELECT doc_id, (t.i-1) % 64 AS cell, SUM(bs[t.i]) AS acc
          FROM v, LATERAL (SELECT unnest(generate_series(1, len(bs))) AS i) t
          GROUP BY 1, 2),
        tot AS (SELECT doc_id, SUM(acc) AS total FROM cells GROUP BY 1),
        hu AS (
          SELECT c.doc_id,
                 COALESCE(SUM(CASE WHEN c.acc*64 > t.total
                   THEN 1::HUGEINT << c.cell END), 0::HUGEINT) AS h
          FROM cells c JOIN tot t USING (doc_id)
          GROUP BY 1)
        SELECT d.doc_id,
               COALESCE(CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
                 THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT),
                 0) AS phash
        FROM documents d LEFT JOIN hu USING (doc_id)""")),

    QueryDef(
      "multimodal_phash_pairs",
      // multimodal near-dup: payload pairs within hamming 3 of each other's
      // perceptual hash, found by exact 16-bit chunk banding (never all
      // pairs). The oracle CAN afford all pairs at gate scale, which is
      // precisely what makes it a sound check of the banded retrieval.
      (s, dir) => Multimodal.phashPairs(
        Multimodal.asMedia(Tables.documents(s, dir)).toDF(), maxDistance = 3),
      Some("""
        WITH b AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents),
        v AS (
          SELECT doc_id, list_transform(generate_series(1, length(hx)//2),
                   i -> 16*(strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1))-1)
                        + (strpos('0123456789ABCDEF', substr(hx, 2*i, 1))-1)) AS bs
          FROM b),
        cells AS (
          SELECT doc_id, (t.i-1) % 64 AS cell, SUM(bs[t.i]) AS acc
          FROM v, LATERAL (SELECT unnest(generate_series(1, len(bs))) AS i) t
          GROUP BY 1, 2),
        tot AS (SELECT doc_id, SUM(acc) AS total FROM cells GROUP BY 1),
        hu AS (
          SELECT c.doc_id,
                 COALESCE(SUM(CASE WHEN c.acc*64 > t.total
                   THEN 1::HUGEINT << c.cell END), 0::HUGEINT) AS h
          FROM cells c JOIN tot t USING (doc_id)
          GROUP BY 1),
        ph AS (
          SELECT d.doc_id,
                 COALESCE(CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
                   THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT),
                   0) AS phash
          FROM documents d LEFT JOIN hu USING (doc_id))
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS dist
        FROM ph a JOIN ph b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.phash, b.phash)) <= 3""")),

    QueryDef(
      "multimodal_dedup_keep",
      // the terminal multimodal dedup step: phash near-dup pairs →
      // connected components → keep each cluster's min-id representative.
      // Same CC + anti-join machinery as dedup_keep, driven by the
      // perceptual hash instead of minhash.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = Multimodal.phashPairs(
          Multimodal.asMedia(docs).toDF(), maxDistance = 3)
        val clusters = Dedup.connectedComponents(pairs, "id_a", "id_b")
        Dedup.keepRepresentatives(docs, "doc_id", clusters)
          .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
      },
      Some("""
        WITH RECURSIVE b AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents),
        v AS (
          SELECT doc_id, list_transform(generate_series(1, length(hx)//2),
                   i -> 16*(strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1))-1)
                        + (strpos('0123456789ABCDEF', substr(hx, 2*i, 1))-1)) AS bs
          FROM b),
        cells AS (
          SELECT doc_id, (t.i-1) % 64 AS cell, SUM(bs[t.i]) AS acc
          FROM v, LATERAL (SELECT unnest(generate_series(1, len(bs))) AS i) t
          GROUP BY 1, 2),
        tot AS (SELECT doc_id, SUM(acc) AS total FROM cells GROUP BY 1),
        hu AS (
          SELECT c.doc_id,
                 COALESCE(SUM(CASE WHEN c.acc*64 > t.total
                   THEN 1::HUGEINT << c.cell END), 0::HUGEINT) AS h
          FROM cells c JOIN tot t USING (doc_id)
          GROUP BY 1),
        ph AS (
          SELECT d.doc_id,
                 COALESCE(CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
                   THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT),
                   0) AS phash
          FROM documents d LEFT JOIN hu USING (doc_id)),
        prs AS (
          SELECT a.doc_id AS id_a, b2.doc_id AS id_b
          FROM ph a JOIN ph b2 ON a.doc_id < b2.doc_id
          WHERE bit_count(xor(a.phash, b2.phash)) <= 3),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM prs
          UNION SELECT id_b, id_a FROM prs),
        reach AS (
          SELECT src AS node, dst AS peer FROM edges
          UNION
          SELECT r.node, e2.dst AS peer
          FROM reach r JOIN edges e2 ON e2.src = r.peer),
        cc AS (SELECT node AS id, least(node, min(peer)) AS cid
               FROM reach GROUP BY node),
        dropped AS (SELECT id FROM cc WHERE id <> cid)
        SELECT COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum
        FROM documents WHERE doc_id NOT IN (SELECT id FROM dropped)""")),

    QueryDef(
      "multimodal_codec",
      // REAL codec round-trip, end to end on executors: build a genuine
      // 8×8 gray PNG per document (cell j = byte at position j mod len —
      // encoded with the JDK's PNG writer, so the payload is actual
      // compressed IDAT data, not a fake), then decode it back through
      // `javax.imageio`, box-average to the luma grid, and hash. PNG is
      // lossless and gray luma is integer-exact (luma(g,g,g)=g), so the
      // oracle replays the decoded grid — and therefore the whole
      // encode→decode→featurize chain — bit for bit from the text bytes.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val media = Multimodal.parallelismFloor(Tables.documents(s, dir)
          .select(col("doc_id"), col("text")).as[(Long, String)])
          .mapPartitions { it =>
            it.map { case (id, text) =>
              val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              val cells = Array.tabulate(64)(j => bytes(j % bytes.length) & 0xff)
              graft.operators.MediaRecord(id, graft.operators.MediaCodec.encodeGrayPng(cells, 8, 8),
                "image/png", 8, 8)
            }
          }
        Multimodal.decode(media).toDF()
          .select(col("doc_id"), col("kind"), col("width"), col("height"),
            col("phash"))
      },
      Some("""
        WITH cells AS (
          SELECT doc_id, t.j AS cell,
                 ord(substr(text, CAST(t.j % length(text) AS INT) + 1, 1)) AS g
          FROM documents,
               LATERAL (SELECT unnest(generate_series(0, 63)) AS j) t),
        tot AS (SELECT doc_id, SUM(g) AS total FROM cells GROUP BY 1),
        hu AS (
          SELECT c.doc_id,
                 COALESCE(SUM(CASE WHEN c.g*64 > t.total
                   THEN 1::HUGEINT << c.cell END), 0::HUGEINT) AS h
          FROM cells c JOIN tot t USING (doc_id)
          GROUP BY 1)
        SELECT doc_id, 'image' AS kind, CAST(8 AS BIGINT) AS width,
               CAST(8 AS BIGINT) AS height,
               CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
                 THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT)
                 AS phash
        FROM hu""")),

    QueryDef(
      "multimodal_resize",
      // REAL image resize through the codec: a 16×16 gray PNG per document
      // (pixel p = byte p mod len), decoded and box-averaged down to the
      // 8×8 grid — each output cell is floor(mean of its 2×2 source
      // block), integer-exact because gray luma is identity. The oracle
      // replays the downsample arithmetic per cell from the text bytes,
      // so the check covers encode→decode→resize→hash end to end. Same
      // mapPartitions batch shape as every codec path: decoder init
      // amortizes per partition, payload bytes never shuffle.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val media = Multimodal.parallelismFloor(Tables.documents(s, dir)
          .select(col("doc_id"), col("text")).as[(Long, String)])
          .mapPartitions { it =>
            it.map { case (id, text) =>
              val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              val cells = Array.tabulate(256)(j => bytes(j % bytes.length) & 0xff)
              graft.operators.MediaRecord(id,
                graft.operators.MediaCodec.encodeGrayPng(cells, 16, 16),
                "image/png", 16, 16)
            }
          }
        Multimodal.decode(media).toDF()
          .select(col("doc_id"), col("width"), col("height"), col("phash"))
      },
      Some("""
        WITH cells AS (
          SELECT doc_id, t.c AS cell,
                 (ord(substr(text, CAST((((t.c // 8) * 2    ) * 16 + (t.c % 8) * 2    ) % length(text) AS INT) + 1, 1)) +
                  ord(substr(text, CAST((((t.c // 8) * 2    ) * 16 + (t.c % 8) * 2 + 1) % length(text) AS INT) + 1, 1)) +
                  ord(substr(text, CAST((((t.c // 8) * 2 + 1) * 16 + (t.c % 8) * 2    ) % length(text) AS INT) + 1, 1)) +
                  ord(substr(text, CAST((((t.c // 8) * 2 + 1) * 16 + (t.c % 8) * 2 + 1) % length(text) AS INT) + 1, 1))) // 4 AS g
          FROM documents,
               LATERAL (SELECT unnest(generate_series(0, 63)) AS c) t),
        tot AS (SELECT doc_id, SUM(g) AS total FROM cells GROUP BY 1),
        hu AS (
          SELECT c.doc_id,
                 COALESCE(SUM(CASE WHEN c.g*64 > t.total
                   THEN 1::HUGEINT << c.cell END), 0::HUGEINT) AS h
          FROM cells c JOIN tot t USING (doc_id)
          GROUP BY 1)
        SELECT doc_id, CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
               CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
                 THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT)
                 AS phash
        FROM hu""")),

    QueryDef(
      "multimodal_codec_audio",
      // WAV PCM round-trip: synthesize a deterministic 16-bit mono
      // waveform per document (sample k = a linear-congruential step
      // seeded by doc_id — integer-exact, no trig), write a REAL RIFF/WAVE
      // container through `javax.sound.sampled`, decode it back, and
      // reduce to the 64-cell mean-|amplitude| envelope. The oracle
      // replays the LCG and the bucket arithmetic; rates/frames check the
      // container header survived the trip.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val media = Multimodal.parallelismFloor(Tables.documents(s, dir)
          .select(col("doc_id"), col("n_chars")).as[(Long, Long)])
          .mapPartitions { it =>
            it.map { case (id, nChars) =>
              val n = 256 + (nChars % 256).toInt
              val samples = new Array[Short](n)
              var x = id * 2654435761L + 1
              var k = 0
              while (k < n) {
                x = x * 6364136223846793005L + 1442695040888963407L
                samples(k) = ((x >>> 48) - 32768L).toShort
                k += 1
              }
              graft.operators.MediaRecord(id, graft.operators.MediaCodec.encodeWav16(samples, 8000),
                "audio/wav", 0, 0)
            }
          }
        Multimodal.decode(media).toDF()
          .select(col("doc_id"), col("kind"), col("width").as("sample_rate"),
            col("height").as("frames"), col("phash"))
      },
      // the LCG and the envelope both replay exactly in SQL: DuckDB's
      // HUGEINT carries the 64-bit multiply mod 2^64 via bitwise AND; the
      // LCG has no closed form without mod-2^64 powers, so a recursive
      // CTE steps it (n ≤ 512 steps/doc)
      Some("""
        WITH RECURSIVE base AS (
          SELECT doc_id, 256 + CAST(n_chars % 256 AS INT) AS n,
                 ((doc_id::HUGEINT * 2654435761 + 1)
                   & 18446744073709551615::HUGEINT) AS x0
          FROM documents),
        it(doc_id, n, k, x) AS (
          SELECT doc_id, n, 0,
                 ((x0 * 6364136223846793005::HUGEINT + 1442695040888963407::HUGEINT)
                   & 18446744073709551615::HUGEINT)
          FROM base
          UNION ALL
          SELECT doc_id, n, k + 1,
                 ((x * 6364136223846793005::HUGEINT + 1442695040888963407::HUGEINT)
                   & 18446744073709551615::HUGEINT)
          FROM it WHERE k + 1 < n),
        samples AS (
          SELECT doc_id, n, k,
                 CAST((x >> 48) - 32768 AS BIGINT) AS s
          FROM it),
        buckets AS (
          SELECT doc_id, CAST((k::BIGINT * 64) // n AS INT) AS cell,
                 SUM(ABS(s)) AS sumabs, COUNT(*) AS cnt
          FROM samples GROUP BY 1, 2),
        cells AS (
          SELECT doc_id, cell, CAST((sumabs // cnt) >> 7 AS BIGINT) AS v
          FROM buckets),
        tot AS (SELECT doc_id, SUM(v) AS total FROM cells GROUP BY 1),
        hu AS (
          SELECT c.doc_id,
                 COALESCE(SUM(CASE WHEN c.v*64 > t.total
                   THEN 1::HUGEINT << c.cell END), 0::HUGEINT) AS h
          FROM cells c JOIN tot t USING (doc_id)
          GROUP BY 1)
        SELECT b.doc_id, 'audio' AS kind, CAST(8000 AS BIGINT) AS sample_rate,
               CAST(b.n AS BIGINT) AS frames,
               COALESCE(CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
                 THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT), 0)
                 AS phash
        FROM base b LEFT JOIN hu USING (doc_id)""")),

    QueryDef(
      "multimodal_video_sample",
      // REAL-codec video frame sampling: 4 genuine 8×8 gray PNG frames per
      // document in a length-prefixed container (frame f, cell j = byte
      // (j + 16·f) mod len), every 2nd frame decoded through javax.imageio
      // and hashed — the skip path never touches the codec, which is what
      // makes frame sampling affordable over petabytes of video. The
      // oracle replays the sampled frames' grids from the text bytes.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val media = Multimodal.parallelismFloor(Tables.documents(s, dir)
          .select(col("doc_id"), col("text")).as[(Long, String)])
          .mapPartitions { it =>
            it.map { case (id, text) =>
              val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              val out = new java.io.ByteArrayOutputStream()
              val dos = new java.io.DataOutputStream(out)
              (0 until 4).foreach { f =>
                val cells = Array.tabulate(64)(j =>
                  bytes((j + 16 * f) % bytes.length) & 0xff)
                val png = graft.operators.MediaCodec.encodeGrayPng(cells, 8, 8)
                dos.writeInt(png.length)
                dos.write(png)
              }
              graft.operators.MediaRecord(id, out.toByteArray, "video/x-framed", 8, 8)
            }
          }
        Multimodal.sampleVideoFrames(media, stride = 2).toDF()
          .select(col("doc_id"), col("frame_idx"), col("phash"))
      },
      Some("""
        WITH f AS (SELECT unnest([0, 2]) AS frame_idx),
        cells AS (
          SELECT doc_id, f.frame_idx, t.j AS cell,
                 ord(substr(text,
                   CAST((t.j + 16 * f.frame_idx) % length(text) AS INT) + 1, 1)) AS g
          FROM documents, f,
               LATERAL (SELECT unnest(generate_series(0, 63)) AS j) t),
        tot AS (SELECT doc_id, frame_idx, SUM(g) AS total
                FROM cells GROUP BY 1, 2),
        hu AS (
          SELECT c.doc_id, c.frame_idx,
                 COALESCE(SUM(CASE WHEN c.g*64 > t.total
                   THEN 1::HUGEINT << c.cell END), 0::HUGEINT) AS h
          FROM cells c JOIN tot t USING (doc_id, frame_idx)
          GROUP BY 1, 2)
        SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
               CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
                 THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT)
                 AS phash
        FROM hu""")),

    QueryDef(
      "multimodal_scene_cut",
      // shot-boundary detection through the REAL codec: the same framed
      // PNG container as multimodal_video_sample, every consecutive frame
      // pair diffed on the decoded 8×8 luma grid, cuts flagged where the
      // summed absolute difference exceeds the threshold — the segmenting
      // primitive a video curation pipeline runs before per-shot dedup.
      // The oracle replays the grids from the text bytes (gray PNG
      // round-trips the cells exactly).
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val media = Multimodal.parallelismFloor(Tables.documents(s, dir)
          .select(col("doc_id"), col("text")).as[(Long, String)])
          .mapPartitions { it =>
            it.map { case (id, text) =>
              val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              val out = new java.io.ByteArrayOutputStream()
              val dos = new java.io.DataOutputStream(out)
              (0 until 4).foreach { f =>
                val cells = Array.tabulate(64)(j =>
                  bytes((j + 16 * f) % bytes.length) & 0xff)
                val png = graft.operators.MediaCodec.encodeGrayPng(cells, 8, 8)
                dos.writeInt(png.length)
                dos.write(png)
              }
              graft.operators.MediaRecord(id, out.toByteArray, "video/x-framed", 8, 8)
            }
          }
        Multimodal.sceneCuts(media, threshold = 1500L).toDF()
          .select(col("doc_id"), col("frame_idx"), col("diff_sum"), col("is_cut"))
      },
      Some("""
        WITH f AS (SELECT unnest(generate_series(0, 3)) AS frame_idx),
        cells AS (
          SELECT doc_id, f.frame_idx, t.j AS cell,
                 ord(substr(text,
                   CAST((t.j + 16 * f.frame_idx) % length(text) AS INT) + 1, 1)) AS g
          FROM documents, f,
               LATERAL (SELECT unnest(generate_series(0, 63)) AS j) t),
        d AS (
          SELECT a.doc_id, a.frame_idx, SUM(ABS(a.g - b.g)) AS diff_sum
          FROM cells a JOIN cells b
            ON a.doc_id = b.doc_id AND a.cell = b.cell
               AND b.frame_idx = a.frame_idx - 1
          GROUP BY 1, 2)
        SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
               CAST(diff_sum AS BIGINT) AS diff_sum,
               CAST(CASE WHEN diff_sum > 1500 THEN 1 ELSE 0 END AS BIGINT) AS is_cut
        FROM d""")),

    QueryDef(
      "multimodal_resample_audio",
      // REAL audio resample through the codec: synthesize the LCG
      // waveform at 8 kHz, write a genuine RIFF/WAVE container, decode
      // it BACK to raw samples, decimate by 2 (the deterministic
      // nearest-sample downsample, the audio analogue of the NN image
      // resize), re-encode at 4 kHz, and decode again for the envelope —
      // decode→transform→encode→decode, all through javax.sound. The
      // oracle replays the LCG keeping even-index samples only.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val media = Multimodal.parallelismFloor(Tables.documents(s, dir)
          .select(col("doc_id"), col("n_chars")).as[(Long, Long)])
          .mapPartitions { it =>
            it.map { case (id, nChars) =>
              val n = 256 + (nChars % 256).toInt
              val samples = new Array[Short](n)
              var x = id * 2654435761L + 1
              var k = 0
              while (k < n) {
                x = x * 6364136223846793005L + 1442695040888963407L
                samples(k) = ((x >>> 48) - 32768L).toShort
                k += 1
              }
              val wav8k = graft.operators.MediaCodec.encodeWav16(samples, 8000)
              val (rate, s0) =
                graft.operators.MediaCodec.decodeWavSamples16(wav8k).get
              val dec = Array.tabulate((s0.length + 1) / 2)(j => s0(2 * j))
              graft.operators.MediaRecord(id,
                graft.operators.MediaCodec.encodeWav16(dec, rate / 2),
                "audio/wav", 0, 0)
            }
          }
        Multimodal.decode(media).toDF()
          .select(col("doc_id"), col("width").as("sample_rate"),
            col("height").as("frames"), col("phash"))
      },
      Some("""
        WITH RECURSIVE base AS (
          SELECT doc_id, 256 + CAST(n_chars % 256 AS INT) AS n,
                 ((doc_id::HUGEINT * 2654435761 + 1)
                   & 18446744073709551615::HUGEINT) AS x0
          FROM documents),
        it(doc_id, n, k, x) AS (
          SELECT doc_id, n, 0,
                 ((x0 * 6364136223846793005::HUGEINT + 1442695040888963407::HUGEINT)
                   & 18446744073709551615::HUGEINT)
          FROM base
          UNION ALL
          SELECT doc_id, n, k + 1,
                 ((x * 6364136223846793005::HUGEINT + 1442695040888963407::HUGEINT)
                   & 18446744073709551615::HUGEINT)
          FROM it WHERE k + 1 < n),
        keep AS (
          SELECT doc_id, (n + 1) // 2 AS n2, k // 2 AS j,
                 CAST((x >> 48) - 32768 AS BIGINT) AS s
          FROM it WHERE k % 2 = 0),
        buckets AS (
          SELECT doc_id, n2, CAST((j::BIGINT * 64) // n2 AS INT) AS cell,
                 SUM(ABS(s)) AS sumabs, COUNT(*) AS cnt
          FROM keep GROUP BY 1, 2, 3),
        cells AS (
          SELECT doc_id, cell, CAST((sumabs // cnt) >> 7 AS BIGINT) AS v
          FROM buckets),
        tot AS (SELECT doc_id, SUM(v) AS total FROM cells GROUP BY 1),
        hu AS (
          SELECT c.doc_id,
                 COALESCE(SUM(CASE WHEN c.v*64 > t.total
                   THEN 1::HUGEINT << c.cell END), 0::HUGEINT) AS h
          FROM cells c JOIN tot t USING (doc_id)
          GROUP BY 1)
        SELECT b.doc_id, CAST(4000 AS BIGINT) AS sample_rate,
               CAST((b.n + 1) // 2 AS BIGINT) AS frames,
               COALESCE(CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
                 THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT), 0)
                 AS phash
        FROM base b LEFT JOIN hu USING (doc_id)""")),

    QueryDef(
      "decontaminate_fuzzy",
      // FUZZY decontamination: n-gram-exact decontamination (the gate
      // below) misses paraphrased benchmark leakage; this one flags train
      // docs whose MinHash bands collide with a TEST doc and whose exact
      // Jaccard confirms ≥ 0.8 — the near-duplicate leak detector. Same
      // banded shuffle economics as the dedup family; test membership
      // attaches as a broadcast of test ids.
      // Banding: word-3-gram shingles, 64 hashes in 16 bands of r=4 —
      // s* = (1/16)^(1/4) ≈ 0.5, so a random pair at unigram-level noise
      // similarity almost never collides. (r6 shipped shingleK=1 with r=2:
      // P[collide] ≈ 0.48 even at s=0.2, measured 83.8M band collisions
      // from 5k docs — the candidate set degenerated to all-pairs.)
      (s, dir) => {
        val tagged = Tables.documents(s, dir)
          .withColumn("split",
            graft.operators.Sampling.splitTag(col("doc_id"), 90, 5))
          .filter(col("split") =!= "val")
        val pairs = Dedup.md5MinhashLshPairs(tagged, "text", "doc_id",
          shingleK = 3, numHashes = 64, bands = 16, threshold = 0.8)
        val testIds = tagged.filter(col("split") === "test").select(col("doc_id"))
        pairs
          .join(broadcast(testIds.select(col("doc_id").as("id_a"),
            lit(1).as("a_test"))), Seq("id_a"), "left_outer")
          .join(broadcast(testIds.select(col("doc_id").as("id_b"),
            lit(1).as("b_test"))), Seq("id_b"), "left_outer")
          .filter(coalesce(col("a_test"), lit(0)) =!= coalesce(col("b_test"), lit(0)))
          .select(
            when(col("a_test").isNotNull, col("id_b")).otherwise(col("id_a"))
              .as("train_id"),
            when(col("a_test").isNotNull, col("id_a")).otherwise(col("id_b"))
              .as("test_id"),
            col("sim"))
      },
      Some {
        val rlist = Dedup.xorSeeds(64).map(_.toString + "::BIGINT").mkString(",")
        s"""
        WITH docs AS (
          SELECT doc_id,
                 ${shinglesSql(WordsSql)} AS sh,
                 ${OracleSql.md5Hash60("doc_id")} % 100 AS bkt
          FROM documents),
        split AS (SELECT doc_id, sh, bkt FROM docs WHERE bkt < 90 OR bkt >= 95),
        hashed AS (
          SELECT doc_id, sh, bkt, list_transform(sh, s -> ${hex15ToInt("md5(s)")}) AS hs
          FROM split),
        sigs AS (
          SELECT doc_id, sh, bkt, [ list_min([xor(h, r) for h in hs]) for r in [$rlist] ] AS sig
          FROM hashed),
        banded AS (
          SELECT doc_id, sh, bkt, b, sig[4*b+1 : 4*b+4] AS bv
          FROM sigs, (SELECT unnest(generate_series(0, 15)) AS b) t),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                          a.sh AS sh_a, b.sh AS sh_b,
                          a.bkt AS bkt_a, b.bkt AS bkt_b
          FROM banded a JOIN banded b
            ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id),
        pairs AS (
          SELECT id_a, id_b, bkt_a, bkt_b,
                 round(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) /
                       (CAST(len(sh_a) + len(sh_b) AS DOUBLE) - CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)), 6) AS sim
          FROM cand
          WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) /
                (CAST(len(sh_a) + len(sh_b) AS DOUBLE) - CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)) >= 0.8)
        SELECT CASE WHEN bkt_a >= 95 THEN id_b ELSE id_a END AS train_id,
               CASE WHEN bkt_a >= 95 THEN id_a ELSE id_b END AS test_id,
               sim
        FROM pairs
        WHERE (bkt_a >= 95) <> (bkt_b >= 95)"""
      }),

    QueryDef(
      "decontaminate",
      // train/test decontamination: per train doc, its distinct 3-gram
      // overlap with the WHOLE test split's n-gram set — test grams
      // broadcast (tiny vs the corpus), train side never shuffles
      (s, dir) => {
        val tagged = Tables.documents(s, dir).withColumn("split",
          graft.operators.Sampling.splitTag(col("doc_id"), 90, 5))
        graft.operators.Curation.contamination(
            tagged.filter(col("split") === "train"),
            tagged.filter(col("split") === "test"),
            "text", "doc_id", n = 3)
          .select(col("doc_id"), col("n_grams"), col("n_hit"), col("overlap"))
      },
      Some(s"""
        WITH toks AS (
          SELECT doc_id, $WordsSql AS words,
                 ${OracleSql.md5Hash60("doc_id")} % 100 AS b
          FROM documents),
        grams AS (
          SELECT doc_id, b, ${shinglesSql("words")} AS grams FROM toks),
        test_grams AS (
          SELECT DISTINCT unnest(grams) AS gram FROM grams WHERE b >= 95),
        train AS (
          SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gram
          FROM grams WHERE b < 90)
        SELECT t.doc_id, t.n_grams, COUNT(*) AS n_hit,
               round(COUNT(*)::DOUBLE / n_grams, 6) AS overlap
        FROM train t JOIN test_grams g ON t.gram = g.gram
        GROUP BY t.doc_id, t.n_grams""")),

    QueryDef(
      "decontaminate_bloom",
      // the same decontamination CONTRACT when the test split is too big
      // to broadcast: a fixed-size Bloom sketch of the test grams
      // prefilters the exploded train stream before the gram shuffle, an
      // exact join confirms. No false negatives -> bit-identical output,
      // so the oracle is decontaminate's, verbatim.
      (s, dir) => {
        val tagged = Tables.documents(s, dir).withColumn("split",
          graft.operators.Sampling.splitTag(col("doc_id"), 90, 5))
        graft.operators.Curation.contaminationBloom(
            tagged.filter(col("split") === "train"),
            tagged.filter(col("split") === "test"),
            "text", "doc_id", n = 3,
            expectedItems = 1L << 16, numBits = 1L << 20)
          .select(col("doc_id"), col("n_grams"), col("n_hit"), col("overlap"))
      },
      Some(s"""
        WITH toks AS (
          SELECT doc_id, $WordsSql AS words,
                 ${OracleSql.md5Hash60("doc_id")} % 100 AS b
          FROM documents),
        grams AS (
          SELECT doc_id, b, ${shinglesSql("words")} AS grams FROM toks),
        test_grams AS (
          SELECT DISTINCT unnest(grams) AS gram FROM grams WHERE b >= 95),
        train AS (
          SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gram
          FROM grams WHERE b < 90)
        SELECT t.doc_id, t.n_grams, COUNT(*) AS n_hit,
               round(COUNT(*)::DOUBLE / n_grams, 6) AS overlap
        FROM train t JOIN test_grams g ON t.gram = g.gram
        GROUP BY t.doc_id, t.n_grams""")),

    QueryDef(
      "text_repetition",
      // Gopher-family repetition signals, all inside codegen: duplicate
      // word fraction, top-2-gram char share, repeated-2-gram char share
      (s, dir) => Tables.documents(s, dir).select(
        col("doc_id"),
        graft.operators.Curation.dupWordFrac(col("text")).as("dup_word_frac"),
        graft.operators.Curation.topNgramCharFrac(col("text"), 2).as("top2_char_frac"),
        graft.operators.Curation.repeatedNgramCharFrac(col("text"), 2).as("rep2_char_frac")),
      Some(s"""
        WITH toks AS (
          SELECT doc_id, text, $WordsSql AS words FROM documents),
        g AS (
          SELECT doc_id, text, words,
            CASE WHEN len(words) < 2 THEN [array_to_string(words, ' ')]
            ELSE [array_to_string(words[i:i+1], ' ')
                  for i in generate_series(1, len(words)-1)] END AS grams
          FROM toks),
        c AS (
          SELECT doc_id, text, words, grams,
            list_max(list_transform(list_distinct(grams),
              x -> struct_pack(c := len(list_filter(grams, y -> y = x)), g := x))) AS top
          FROM g)
        SELECT doc_id,
          round((len(words) - len(list_distinct(words)))::DOUBLE
                / greatest(len(words), 1), 6) AS dup_word_frac,
          round(CASE WHEN length(text) = 0 THEN 0.0
                ELSE (top.c * len(top.g))::DOUBLE / length(text) END, 6) AS top2_char_frac,
          round(CASE WHEN length(text) = 0 THEN 0.0
                ELSE list_sum(list_transform(list_distinct(grams),
                  x -> CASE WHEN len(list_filter(grams, y -> y = x)) > 1
                       THEN len(list_filter(grams, y -> y = x)) * len(x)
                       ELSE 0 END))::DOUBLE / length(text) END, 6) AS rep2_char_frac
        FROM c""")),

    QueryDef(
      "quality_gopher",
      // composite Gopher-rule gate: every doc judged in one codegen'd
      // pass, drops attributable via the ordered failed-rule list
      (s, dir) => graft.operators.Curation.gopherFilter(
        Tables.documents(s, dir), "text", "doc_id"),
      Some(s"""
        WITH toks AS (SELECT doc_id, $WordsSql AS words FROM documents),
        sig AS (
          SELECT doc_id, len(words) AS n,
            CASE WHEN len(words) > 0
                 THEN list_sum(list_transform(words, w -> len(w)))::DOUBLE / len(words)
                 ELSE 0.0 END AS mean_len,
            round((len(words) - len(list_distinct(words)))::DOUBLE
                  / greatest(len(words), 1), 6) AS dup_frac,
            len(list_filter(['the','a','of','to','and','in'],
                s -> list_contains(words, s))) AS n_stop
          FROM toks),
        r AS (
          SELECT doc_id, CAST(n AS BIGINT) AS n_words,
            coalesce(array_to_string(list_filter([
              CASE WHEN dup_frac > 0.6 THEN 'dup_words' END,
              CASE WHEN mean_len < 3.0 OR mean_len > 10.0 THEN 'mean_word_len' END,
              CASE WHEN n_stop < 2 THEN 'stopwords' END,
              CASE WHEN n > 1000 THEN 'too_long' END,
              CASE WHEN n < 20 THEN 'too_short' END], x -> x IS NOT NULL), ','), '') AS reasons
          FROM sig)
        SELECT doc_id, n_words, reasons = '' AS keep, reasons FROM r""")),

    QueryDef(
      "pipeline_pack",
      // sequence packing: content-hash-shuffled docs laid end-to-end into
      // 2048-token context windows, sharded (8) so packing parallelizes —
      // per-(shard, window) doc/token counts are fully deterministic
      (s, dir) => graft.operators.Curation.packDocuments(
          Tables.documents(s, dir), "text", "doc_id", 2048, shards = 8)
        .groupBy(col("shard"), col("window").as("win"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens")),
      Some(s"""
        WITH t AS (
          SELECT doc_id,
                 CAST(len(regexp_extract_all(text, '[^ ]+'))
                      + floor(length(text) / 16) AS BIGINT) AS nt,
                 ${OracleSql.md5Hash60("doc_id")} % 8 AS shard,
                 ${OracleSql.md5Hash60("doc_id")} AS h
          FROM documents),
        c AS (
          SELECT doc_id, nt, shard,
                 SUM(nt) OVER (PARTITION BY shard ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt AS cum
          FROM t)
        SELECT shard, CAST(floor(cum / 2048) AS BIGINT) AS win,
               COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens
        FROM c GROUP BY shard, win""")),

    QueryDef(
      "pipeline_e2e",
      // the WHOLE corpus pipeline as ONE declarative plan — exact-norm
      // dedup → quality gate → sequence packing — the composition a real
      // pretraining run executes, end to end, with every stage's
      // arithmetic already individually oracle-verified. Catalyst fuses
      // the dedup semi-join and the quality filter into the packing
      // scan's input; the corpus text crosses the wire once (the packing
      // shard shuffle), exactly as it must at 100 TB.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val winners = Dedup.exactNormalized(docs, "text", "doc_id")
          .select(col("keep_id").as("doc_id"))
        val surviving = docs
          .join(winners, Seq("doc_id"), "left_semi")
          .filter(TextAnalysis.qualityScore(col("text")) >= 0.5)
        graft.operators.Curation.packDocuments(
            surviving, "text", "doc_id", 2048, shards = 8)
          .groupBy(col("shard"), col("window").as("win"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      },
      Some(s"""
        WITH keep AS (
          SELECT MIN(doc_id) AS doc_id
          FROM documents
          GROUP BY trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))),
        q AS (
          SELECT d.doc_id, d.text
          FROM documents d JOIN keep USING (doc_id)
          WHERE round(
              least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5 +
              least(CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|a|is|it|for|on)\\b')) AS DOUBLE)
                    / (CAST(len(regexp_extract_all(text, '[^ ]+')) AS DOUBLE) + 1.0) * 5.0, 1.0) * 0.3 +
              (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
                     / (CAST(length(text) AS DOUBLE) + 1.0)) * 0.2, 6) >= 0.5),
        t AS (
          SELECT doc_id,
                 CAST(len(regexp_extract_all(text, '[^ ]+'))
                      + floor(length(text) / 16) AS BIGINT) AS nt,
                 ${OracleSql.md5Hash60("doc_id")} % 8 AS shard,
                 ${OracleSql.md5Hash60("doc_id")} AS h
          FROM q),
        c AS (
          SELECT doc_id, nt, shard,
                 SUM(nt) OVER (PARTITION BY shard ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt AS cum
          FROM t)
        SELECT shard, CAST(floor(cum / 2048) AS BIGINT) AS win,
               COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens
        FROM c GROUP BY shard, win""")),

    QueryDef(
      "pipeline_mixture",
      // temperature-based (α=0.5) domain mixture over the lang column:
      // per-domain sampling rates follow the α-scaled distribution (IEEE
      // sqrt/div order fixed so the oracle replays them bit-for-bit),
      // membership is the content-hash bucket — fully deterministic
      (s, dir) => {
        import graft.operators.Curation
        val docs = Tables.documents(s, dir)
        val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
        val rates = Curation.temperatureRates(counts, 0.5)
        val rateMap = map(rates.flatMap { case (d, r) => Seq(lit(d), lit(r)) }: _*)
        Curation.mixtureSample(docs, "lang", "doc_id", 0.5)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_kept"))
          .withColumn("rate", round(element_at(rateMap, col("lang")), 6))
          .select(col("lang"), col("rate"), col("n_kept"))
      },
      Some(s"""
        WITH counts AS (SELECT lang, COUNT(*)::DOUBLE AS n FROM documents GROUP BY lang),
        tot AS (SELECT SUM(n) AS total FROM counts),
        w AS (SELECT lang, n, sqrt(n / total) AS wt FROM counts, tot),
        z AS (SELECT list_reduce(list(wt ORDER BY lang), (a,b) -> a+b) AS zz FROM w),
        shares AS (SELECT lang, n, wt / zz AS share FROM w, z),
        kk AS (SELECT MIN(n / share) AS k FROM shares),
        rates AS (SELECT lang, LEAST(1.0, share * k / n) AS rate FROM shares, kk),
        th AS (SELECT lang, CAST(floor(rate*10000 + 0.5) AS BIGINT) AS t,
                      round(rate, 6) AS rate_r FROM rates)
        SELECT d.lang, any_value(th.rate_r) AS rate, COUNT(*) AS n_kept
        FROM documents d JOIN th ON d.lang = th.lang
        WHERE ${OracleSql.md5Hash60("doc_id")} % 10000 < th.t
        GROUP BY d.lang""")),

    QueryDef(
      "pipeline_token_mixture",
      // the "mix by token budget" knob: domain sizes measured in TOKENS
      // (a domain of few huge docs counts by its tokens, not its doc
      // count), same bit-reproducible α=0.5 rate chain over the weighted
      // totals, same content-hash membership
      (s, dir) => {
        import graft.operators.{Curation, TextAnalysis}
        val docs = Tables.documents(s, dir)
        Curation.mixtureSampleBy(docs, "lang", "doc_id", 0.5,
            TextAnalysis.subwordCount(col("text")))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_kept"),
            sum(TextAnalysis.subwordCount(col("text"))).as("tokens_kept"))
      },
      Some(s"""
        WITH counts AS (
          SELECT lang,
                 CAST(SUM(CAST(len(regexp_extract_all(text, '[^ ]+'))
                          + floor(length(text) / 16) AS BIGINT)) AS DOUBLE) AS n
          FROM documents GROUP BY lang),
        tot AS (SELECT SUM(n) AS total FROM counts),
        w AS (SELECT lang, n, sqrt(n / total) AS wt FROM counts, tot),
        z AS (SELECT list_reduce(list(wt ORDER BY lang), (a,b) -> a+b) AS zz FROM w),
        shares AS (SELECT lang, n, wt / zz AS share FROM w, z),
        kk AS (SELECT MIN(n / share) AS k FROM shares),
        rates AS (SELECT lang, LEAST(1.0, share * k / n) AS rate FROM shares, kk),
        th AS (SELECT lang, CAST(floor(rate*10000 + 0.5) AS BIGINT) AS t FROM rates)
        SELECT d.lang, COUNT(*) AS n_kept,
               CAST(SUM(CAST(len(regexp_extract_all(d.text, '[^ ]+'))
                        + floor(length(d.text) / 16) AS BIGINT)) AS BIGINT) AS tokens_kept
        FROM documents d JOIN th ON d.lang = th.lang
        WHERE ${OracleSql.md5Hash60("doc_id")} % 10000 < th.t
        GROUP BY d.lang""")),

    QueryDef(
      "text_pii",
      // PII scrubbing. The synthetic corpus carries no PII, so the gate
      // deterministically plants emails/phones/IPs derived from doc_id on
      // every 7th document — IDENTICALLY on both sides — then grades the
      // redaction chain itself: per-doc counts and the md5 of the scrubbed
      // text (a single divergent replacement breaks the hash).
      (s, dir) => {
        val d = col("doc_id")
        val planted = concat(col("text"),
          lit(" contact user"), d.cast("string"),
          lit("@mail.example.com or call +1-555-"),
          lpad((d * 37 % 10000).cast("string"), 4, "0"),
          lit(" from 10."), (d % 256).cast("string"),
          lit(".0."), (d * 7 % 256).cast("string"))
        Tables.documents(s, dir)
          .withColumn("t", when(d % 7 === 0, planted).otherwise(col("text")))
          .select(d.as("doc_id"),
            TextAnalysis.emailCount(col("t")).as("n_emails"),
            TextAnalysis.phoneCount(col("t")).as("n_phones"),
            TextAnalysis.ipCount(col("t")).as("n_ips"),
            md5(TextAnalysis.redactPii(col("t")).cast("binary")).as("redacted_hash"))
      },
      Some(s"""
        WITH aug AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0 THEN
                   concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                          '@mail.example.com or call +1-555-',
                          lpad(CAST(doc_id*37 % 10000 AS VARCHAR), 4, '0'),
                          ' from 10.', CAST(doc_id % 256 AS VARCHAR),
                          '.0.', CAST(doc_id*7 % 256 AS VARCHAR))
                 ELSE text END AS t
          FROM documents)
        SELECT doc_id,
               len(regexp_extract_all(t, '${TextAnalysis.EmailRe}')) AS n_emails,
               len(regexp_extract_all(t, '${TextAnalysis.PhoneRe}')) AS n_phones,
               len(regexp_extract_all(t, '${TextAnalysis.Ipv4Re}')) AS n_ips,
               md5(regexp_replace(regexp_replace(regexp_replace(t,
                     '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
                     '${TextAnalysis.PhoneRe}', '<PHONE>', 'g'),
                     '${TextAnalysis.Ipv4Re}', '<IP>', 'g')) AS redacted_hash
        FROM aug""")),

    QueryDef(
      "text_vocab",
      // vocabulary building: corpus term frequency + document frequency,
      // the classic one-shuffle word-count (partial agg collapses each
      // task's token stream before the exchange)
      (s, dir) => TextAnalysis.vocabulary(
        Tables.documents(s, dir), "text", "doc_id", 30),
      Some(s"""
        SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
        FROM (SELECT doc_id, unnest($WordsSql) AS token FROM documents)
        GROUP BY token ORDER BY tf DESC, token LIMIT 30""")),

    QueryDef(
      "text_heavy_hitters",
      // count-min-sketch frequency estimation over the md5 hash family:
      // the exact top-20 terms carry both their true count and the d×w
      // grid's min-counter estimate (always ≥ the truth); the grid is the
      // few-KB mergeable summary you ship at 100 TB, and the oracle
      // rebuilds every counter cell
      (s, dir) => TextAnalysis.cmsHeavyHitters(Tables.documents(s, dir), "text"),
      Some(s"""
        WITH words AS (
          SELECT word, COUNT(*) AS cnt FROM (
            SELECT unnest($WordsSql) AS word FROM documents) GROUP BY word),
        js AS (SELECT unnest(generate_series(0, 3)) AS j),
        counters AS (
          SELECT js.j,
                 ${OracleSql.md5Hash60("CAST(js.j AS VARCHAR) || ':' || w2.word")} % 1024 AS b,
                 CAST(SUM(w2.cnt) AS BIGINT) AS s
          FROM words w2, js GROUP BY 1, 2),
        cand AS (SELECT word, cnt FROM words ORDER BY cnt DESC, word LIMIT 20)
        SELECT c.word, c.cnt, CAST(MIN(ct.s) AS BIGINT) AS cms_est
        FROM cand c, js, counters ct
        WHERE ct.j = js.j
          AND ct.b = ${OracleSql.md5Hash60("CAST(js.j AS VARCHAR) || ':' || c.word")} % 1024
        GROUP BY c.word, c.cnt""")),

    QueryDef(
      "pipeline_dsir",
      // DSIR importance weighting: select the 50 docs whose hashed-unigram
      // features look most like the target domain (lang='en') relative to
      // the whole corpus. Per-bucket log-ratios are rounded onto a 1e-6
      // grid and summed as BIGINT so the ranking is aggregation-order-
      // independent; the oracle replays every bucket's smoothed ratio.
      (s, dir) => {
        val d = Tables.documents(s, dir)
        graft.operators.Curation
          .dsirLogWeights(d, "text", "doc_id", col("lang") === "en")
          .orderBy(col("qsum").desc, col("doc_id")).limit(50)
          .select(col("doc_id"),
            (round(col("qsum") / lit(1000000.0), 6) + lit(0.0)).as("log_weight"),
            col("n_feats"))
      },
      Some(s"""
        WITH f AS (
          SELECT doc_id, lang = 'en' AS tgt, ${OracleSql.md5Hash60("w")} % 4096 AS b
          FROM (SELECT doc_id, lang, unnest($WordsSql) AS w FROM documents)),
        src AS (SELECT b, COUNT(*) AS scnt FROM f GROUP BY b),
        tgt AS (SELECT b, COUNT(*) AS tcnt FROM f WHERE tgt GROUP BY b),
        tot AS (SELECT COUNT(*) AS s, COUNT(*) FILTER (WHERE tgt) AS t FROM f),
        lr AS (SELECT s2.b,
                 CAST(round((ln((COALESCE(t2.tcnt, 0) + 1.0) / ((SELECT t FROM tot) + 4096)) -
                             ln((s2.scnt + 1.0) / ((SELECT s FROM tot) + 4096))) * 1000000.0, 0) AS BIGINT) AS qlr
               FROM src s2 LEFT JOIN tgt t2 USING (b)),
        w AS (SELECT f.doc_id, SUM(qlr) AS qsum, COUNT(*) AS n_feats
              FROM f JOIN lr USING (b) GROUP BY f.doc_id)
        SELECT doc_id, round(qsum / 1000000.0, 6) + 0.0 AS log_weight, n_feats
        FROM w ORDER BY qsum DESC, doc_id LIMIT 50""")),

    QueryDef(
      "text_boilerplate",
      // boilerplate mining: 5-gram spans shared across documents (shingles
      // are distinct per doc, so count = doc frequency)
      (s, dir) => TextAnalysis.repeatedNgrams(
        Tables.documents(s, dir), "text", "doc_id", n = 5, minDocs = 2, k = 40),
      Some(s"""
        WITH w AS (SELECT $WordsSql AS words FROM documents),
        g AS (SELECT unnest(
                CASE WHEN len(words) < 5 THEN [array_to_string(words, ' ')]
                ELSE list_distinct([array_to_string(words[i:i+4], ' ')
                                    for i in generate_series(1, len(words)-4)]) END) AS gram
              FROM w)
        SELECT gram, COUNT(*) AS n_docs FROM g
        GROUP BY gram HAVING COUNT(*) >= 2
        ORDER BY n_docs DESC, gram LIMIT 40""")),

    QueryDef(
      "text_bm25",
      // BM25 retrieval over the corpus: one 1-row stats aggregate
      // broadcast back over a single scoring scan — the corpus never
      // shuffles; scores are fixed-order FP chains the oracle replays
      (s, dir) => graft.operators.Ranking.bm25TopK(
        Tables.documents(s, dir), "text", "doc_id",
        terms = Seq("spark", "query", "stream"), k = 20),
      Some(s"""
        WITH t AS (SELECT doc_id, $WordsSql AS toks FROM documents),
        stats AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                 SUM(CAST(len(toks) AS DOUBLE)) AS sum_dl,
                 SUM(CASE WHEN len(list_filter(toks, x -> x = 'spark')) > 0 THEN 1.0 ELSE 0.0 END) AS df_0,
                 SUM(CASE WHEN len(list_filter(toks, x -> x = 'query')) > 0 THEN 1.0 ELSE 0.0 END) AS df_1,
                 SUM(CASE WHEN len(list_filter(toks, x -> x = 'stream')) > 0 THEN 1.0 ELSE 0.0 END) AS df_2
          FROM t),
        s AS (
          SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
                 CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) AS tf_0,
                 CAST(len(list_filter(toks, x -> x = 'query')) AS DOUBLE) AS tf_1,
                 CAST(len(list_filter(toks, x -> x = 'stream')) AS DOUBLE) AS tf_2
          FROM t)
        SELECT doc_id, round(
            ln(1.0 + (n_docs - df_0 + 0.5) / (df_0 + 0.5)) * tf_0 * 2.2
              / (tf_0 + 1.2 * (0.25 + 0.75 * dl / (sum_dl / n_docs)))
          + ln(1.0 + (n_docs - df_1 + 0.5) / (df_1 + 0.5)) * tf_1 * 2.2
              / (tf_1 + 1.2 * (0.25 + 0.75 * dl / (sum_dl / n_docs)))
          + ln(1.0 + (n_docs - df_2 + 0.5) / (df_2 + 0.5)) * tf_2 * 2.2
              / (tf_2 + 1.2 * (0.25 + 0.75 * dl / (sum_dl / n_docs))), 6) AS score
        FROM s, stats
        WHERE tf_0 > 0 OR tf_1 > 0 OR tf_2 > 0
        ORDER BY score DESC, doc_id LIMIT 20""")),

    QueryDef(
      "rank_fusion",
      // HYBRID retrieval (Cormack–Clarke–Buettcher reciprocal rank
      // fusion): the BM25 lexical top-20 and the cosine vector top-20
      // fused by integer RRF — contribution floor(1e9/(60+rank)) per leg,
      // exact in both engines, no float fusion arithmetic. The modern
      // RAG retrieval stack in one declarative plan: both legs are
      // corpus-scan + TakeOrdered (never a corpus shuffle), the fusion
      // joins two 20-row frames.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, dir)
        val emb = Tables.embeddings(s, dir)
        val qv = emb.filter(col("vec_id") === 0)
          .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
        def ranked(leg: org.apache.spark.sql.DataFrame, score: String) = leg.select(
          col("id"),
          row_number().over(
            Window.orderBy(col(score).desc, col("id"))).cast("long").as("r"))
        val lex = ranked(graft.operators.Ranking.bm25TopK(
            docs, "text", "doc_id", terms = Seq("spark", "query", "stream"),
            k = 20).select(col("doc_id").as("id"), col("score")), "score")
        val vec = ranked(Similarity.bruteForceTopK(
          emb.filter(col("vec_id") =!= 0), "embedding", "vec_id", qv, 20), "sim")
        lex.select(col("id"), col("r").as("lex_rank"))
          .join(vec.select(col("id"), col("r").as("vec_rank")), Seq("id"), "full_outer")
          .select(col("id"), col("lex_rank"), col("vec_rank"),
            (coalesce(expr("1000000000 div (60 + lex_rank)"), lit(0L)) +
             coalesce(expr("1000000000 div (60 + vec_rank)"), lit(0L))).as("fused"))
          .orderBy(col("fused").desc, col("id"))
          .limit(10)
      },
      Some(s"""
        WITH t AS (SELECT doc_id, $WordsSql AS toks FROM documents),
        stats AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                 SUM(CAST(len(toks) AS DOUBLE)) AS sum_dl,
                 SUM(CASE WHEN len(list_filter(toks, x -> x = 'spark')) > 0 THEN 1.0 ELSE 0.0 END) AS df_0,
                 SUM(CASE WHEN len(list_filter(toks, x -> x = 'query')) > 0 THEN 1.0 ELSE 0.0 END) AS df_1,
                 SUM(CASE WHEN len(list_filter(toks, x -> x = 'stream')) > 0 THEN 1.0 ELSE 0.0 END) AS df_2
          FROM t),
        sc AS (
          SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
                 CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) AS tf_0,
                 CAST(len(list_filter(toks, x -> x = 'query')) AS DOUBLE) AS tf_1,
                 CAST(len(list_filter(toks, x -> x = 'stream')) AS DOUBLE) AS tf_2
          FROM t),
        bm AS (
          SELECT doc_id, round(
              ln(1.0 + (n_docs - df_0 + 0.5) / (df_0 + 0.5)) * tf_0 * 2.2
                / (tf_0 + 1.2 * (0.25 + 0.75 * dl / (sum_dl / n_docs)))
            + ln(1.0 + (n_docs - df_1 + 0.5) / (df_1 + 0.5)) * tf_1 * 2.2
                / (tf_1 + 1.2 * (0.25 + 0.75 * dl / (sum_dl / n_docs)))
            + ln(1.0 + (n_docs - df_2 + 0.5) / (df_2 + 0.5)) * tf_2 * 2.2
                / (tf_2 + 1.2 * (0.25 + 0.75 * dl / (sum_dl / n_docs))), 6) AS score
          FROM sc, stats
          WHERE tf_0 > 0 OR tf_1 > 0 OR tf_2 > 0
          ORDER BY score DESC, doc_id LIMIT 20),
        lex AS (
          SELECT doc_id AS id,
                 row_number() OVER (ORDER BY score DESC, doc_id) AS r
          FROM bm),
        q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        sims AS (
          SELECT vec_id AS id,
                 round(list_dot_product(CAST(embedding AS DOUBLE[]), qv) /
                       (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(qv, qv))), 6) AS sim
          FROM embeddings, q WHERE vec_id <> 0
          ORDER BY sim DESC, id LIMIT 20),
        vec AS (
          SELECT id, row_number() OVER (ORDER BY sim DESC, id) AS r FROM sims),
        f AS (
          SELECT COALESCE(l.id, v.id) AS id, l.r AS lr, v.r AS vr
          FROM lex l FULL OUTER JOIN vec v ON l.id = v.id)
        SELECT id, CAST(lr AS BIGINT) AS lex_rank, CAST(vr AS BIGINT) AS vec_rank,
               CAST(COALESCE(1000000000 // (60 + lr), 0)
                    + COALESCE(1000000000 // (60 + vr), 0) AS BIGINT) AS fused
        FROM f ORDER BY fused DESC, id LIMIT 10""")),

    QueryDef(
      "sim_ann_sq8",
      // int8 scalar-quantized ANN: per-dimension (min,max) stats, levels
      // by floor-scaling, INTEGER dot-product scoring — exact arithmetic,
      // so the ranking is engine-reproducible (no FP in the hot compare)
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val qv = emb.filter(col("vec_id") === 0)
          .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
        Similarity.sq8TopK(emb.filter(col("vec_id") =!= 0),
          "embedding", "vec_id", qv, 20)
      },
      Some("""
        WITH e AS (SELECT vec_id,
                     list_transform(CAST(embedding AS DOUBLE[]),
                       x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                      CAST(embedding AS DOUBLE[])))) AS v
                   FROM embeddings WHERE vec_id <> 0),
        q AS (SELECT list_transform(CAST(embedding AS DOUBLE[]),
                       x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                      CAST(embedding AS DOUBLE[])))) AS qv
              FROM embeddings WHERE vec_id = 0),
        ma AS (SELECT max(list_max(list_transform(v, x -> abs(x)))) AS m FROM e),
        qq AS (SELECT list_transform(qv,
                 x -> least(greatest(CAST(floor(x * 127.0 / m) AS BIGINT), -127), 127)) AS ql
               FROM q, ma),
        dq AS (SELECT vec_id, list_transform(v,
                 x -> least(greatest(CAST(floor(x * 127.0 / m) AS BIGINT), -127), 127)) AS dl
               FROM e, ma)
        SELECT vec_id AS id,
               CAST(list_dot_product(CAST(dl AS DOUBLE[]), CAST(ql AS DOUBLE[])) AS BIGINT) AS score
        FROM dq, qq ORDER BY score DESC, id LIMIT 20""")),

    QueryDef(
      "sim_ann_bq",
      // 1-bit rung of the compression ladder (PQ -> SQ8 -> BQ): sign-bit
      // masks packed into longs, Hamming scoring by XOR + popcount — a
      // 32x-smaller corpus scanned in one codegen'd loop, integer-exact.
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val qv = emb.filter(col("vec_id") === 0)
          .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
        Similarity.bqTopK(emb.filter(col("vec_id") =!= 0),
          "embedding", "vec_id", qv, 20)
      },
      Some("""
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        SELECT vec_id AS id,
               CAST(list_sum(list_transform(generate_series(1, len(embedding)),
                 i -> CASE WHEN (embedding[i] >= 0) <> (qv[i] >= 0)
                           THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
        FROM embeddings, q WHERE vec_id <> 0
        ORDER BY hamming, id LIMIT 20""")),

    QueryDef(
      "sim_ann_pq",
      // product quantization (Jégou et al. 2011), the compression rung
      // above SQ8: vectors stored as 4 codes of 8 sampled centroids per
      // 16-dim subspace, query scored asymmetrically via an exact m × k
      // dot-product table. Codebooks are deterministic data samples (the
      // trained k-means variant is spec-verified like ivf_kmeans);
      // encoding argmin uses the rank-equivalent c·c − 2 s·c form in the
      // same IEEE fold order the oracle replays.
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val corpus = emb.filter(col("vec_id") =!= 0)
        val qv = emb.filter(col("vec_id") === 0)
          .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
        val cbs = Similarity.pqSampledCodebooks(corpus, "embedding", "vec_id",
          m = 4, k = 8)
        Similarity.pqTopK(corpus, "embedding", "vec_id", qv, 20, cbs)
      },
      Some("""
        WITH q AS (SELECT list_transform(CAST(embedding AS DOUBLE[]),
                     x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                    CAST(embedding AS DOUBLE[])))) AS qv
                   FROM embeddings WHERE vec_id = 0),
        e AS (SELECT vec_id,
                list_transform(CAST(embedding AS DOUBLE[]),
                  x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                 CAST(embedding AS DOUBLE[])))) AS v
              FROM embeddings WHERE vec_id <> 0),
        seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v
                  FROM e ORDER BY vec_id LIMIT 8),
        cb AS (SELECT j, c, v[j*16+1 : (j+1)*16] AS ctr
               FROM seeds, (SELECT unnest(generate_series(0, 3)) AS j) t),
        dist AS (SELECT e.vec_id, cb.j, cb.c,
                        list_dot_product(cb.ctr, cb.ctr)
                          - 2.0 * list_dot_product(e.v[cb.j*16+1 : (cb.j+1)*16], cb.ctr) AS d,
                        list_dot_product(q.qv[cb.j*16+1 : (cb.j+1)*16], cb.ctr) AS t
                 FROM e, cb, q),
        enc AS (SELECT vec_id, j, t FROM (
                  SELECT vec_id, j, t,
                         row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
                  FROM dist) WHERE rn = 1),
        sc AS (SELECT vec_id,
                      SUM(CASE WHEN j = 0 THEN t END) AS s0,
                      SUM(CASE WHEN j = 1 THEN t END) AS s1,
                      SUM(CASE WHEN j = 2 THEN t END) AS s2,
                      SUM(CASE WHEN j = 3 THEN t END) AS s3
               FROM enc GROUP BY vec_id)
        SELECT vec_id AS id, round(((s0 + s1) + s2) + s3, 6) AS score
        FROM sc ORDER BY score DESC, id LIMIT 20""")),

    QueryDef(
      "sim_mmr_select",
      // Maximal Marginal Relevance diversity selection (λ=0.7, k=3) over
      // the top-50 relevance shortlist: greedy score λ·rel − (1−λ)·max
      // sim-to-selected, ties to lowest id. The cluster does the
      // shortlist pass; the driver runs the bounded greedy loop — the
      // oracle unrolls all three selection steps with scalar subqueries.
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val qv = emb.filter(col("vec_id") === 0)
          .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
        Similarity.mmrSelect(emb.filter(col("vec_id") =!= 0),
          "embedding", "vec_id", qv, k = 3, shortlist = 50, lambda = 0.7)
      },
      Some("""
        WITH q AS (
          SELECT list_transform(CAST(embedding AS DOUBLE[]),
                   x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                  CAST(embedding AS DOUBLE[])))) AS qn
          FROM embeddings WHERE vec_id = 0),
        e AS (SELECT vec_id,
                     list_transform(CAST(embedding AS DOUBLE[]),
                       x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                      CAST(embedding AS DOUBLE[])))) AS vn
              FROM embeddings WHERE vec_id <> 0),
        rel AS (SELECT vec_id, vn, list_dot_product(vn, qn) AS rel
                FROM e, q ORDER BY rel DESC, vec_id LIMIT 50),
        s1 AS (SELECT vec_id, vn, rel FROM rel ORDER BY rel DESC, vec_id LIMIT 1),
        c2 AS (SELECT r.vec_id, r.vn, r.rel,
                      CAST(0.7 AS DOUBLE) * r.rel -
                      (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) *
                        list_dot_product(r.vn, s1.vn) AS score
               FROM rel r, s1 WHERE r.vec_id <> s1.vec_id),
        s2 AS (SELECT vec_id, vn, score FROM c2 ORDER BY score DESC, vec_id LIMIT 1),
        c3 AS (SELECT r.vec_id, r.rel,
                      CAST(0.7 AS DOUBLE) * r.rel -
                      (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) *
                        greatest(list_dot_product(r.vn, s1.vn),
                                 list_dot_product(r.vn, s2.vn)) AS score
               FROM rel r, s1, s2 WHERE r.vec_id <> s1.vec_id AND r.vec_id <> s2.vec_id),
        s3 AS (SELECT vec_id, score FROM c3 ORDER BY score DESC, vec_id LIMIT 1)
        SELECT 1 AS sel_rank, s1.vec_id AS id, round(s1.rel, 6) + 0.0 AS mmr FROM s1
        UNION ALL SELECT 2, s2.vec_id, round(s2.score, 6) + 0.0 FROM s2
        UNION ALL SELECT 3, s3.vec_id, round(s3.score, 6) + 0.0 FROM s3""")),

    QueryDef(
      "sim_ann_ivfpq",
      // IVF-PQ (IVFADC): coarse cells + RESIDUAL product quantization,
      // scored via dot(q,v) = dot(q,c_cell) + ADC(residual codes). The
      // whole index is deterministic (centroids = 8 lowest ids, codebook
      // seeds = the NEXT 8 ids' residuals, lowest-index tiebreaks), so
      // the oracle rebuilds coarse assignment, residuals, codebooks,
      // encoding and the probe —  the full compression ladder's top rung.
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val corpus = emb.filter(col("vec_id") =!= 0)
        val qv = emb.filter(col("vec_id") === 0)
          .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
        Similarity.ivfPqTopK(corpus, "embedding", "vec_id", qv, 20,
          nCells = 8, nProbe = 2, m = 4, kCodes = 8)
      },
      Some("""
        WITH q AS (
          SELECT CAST(embedding AS DOUBLE[]) AS qraw,
                 list_transform(CAST(embedding AS DOUBLE[]),
                   x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                  CAST(embedding AS DOUBLE[])))) AS qn
          FROM embeddings WHERE vec_id = 0),
        c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci,
                     CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings WHERE vec_id <> 0 ORDER BY vec_id LIMIT 8),
        cu AS (SELECT ci, list_transform(cv, x -> x / sqrt(list_dot_product(cv, cv))) AS cun
               FROM c),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     list_transform(CAST(embedding AS DOUBLE[]),
                       x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                      CAST(embedding AS DOUBLE[])))) AS vn
              FROM embeddings WHERE vec_id <> 0),
        assign AS (
          SELECT e.vec_id, e.vn,
                 (SELECT ci FROM c
                  ORDER BY list_dot_product(e.v, c.cv) /
                           (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                           ci ASC LIMIT 1) AS cell
          FROM e),
        res AS (
          SELECT a.vec_id, a.cell,
                 list_transform(generate_series(1, len(a.vn)), i -> a.vn[i] - cu.cun[i]) AS r
          FROM assign a JOIN cu ON cu.ci = a.cell),
        seeds AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS sc, r
          FROM (SELECT vec_id, r FROM res ORDER BY vec_id LIMIT 8 OFFSET 8)),
        cb AS (SELECT j, sc, r[j*16+1 : (j+1)*16] AS ctr
               FROM seeds, (SELECT unnest(generate_series(0, 3)) AS j) t),
        dist AS (
          SELECT res.vec_id, res.cell, cb.j, cb.sc,
                 list_dot_product(cb.ctr, cb.ctr)
                   - 2.0 * list_dot_product(res.r[cb.j*16+1 : (cb.j+1)*16], cb.ctr) AS d,
                 list_dot_product(q.qn[cb.j*16+1 : (cb.j+1)*16], cb.ctr) AS t
          FROM res, cb, q),
        enc AS (SELECT vec_id, cell, j, t FROM (
                  SELECT vec_id, cell, j, t,
                         row_number() OVER (PARTITION BY vec_id, j ORDER BY d, sc) AS rn
                  FROM dist) WHERE rn = 1),
        qdc AS (SELECT cu.ci, list_dot_product(q.qn, cu.cun) AS qdotc FROM cu, q),
        qcells AS (SELECT ci FROM c, q
                   ORDER BY list_dot_product(q.qraw, c.cv) /
                            (sqrt(list_dot_product(q.qraw, q.qraw)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                            ci ASC LIMIT 2),
        sums AS (SELECT vec_id, cell,
                        SUM(CASE WHEN j = 0 THEN t END) AS s0,
                        SUM(CASE WHEN j = 1 THEN t END) AS s1,
                        SUM(CASE WHEN j = 2 THEN t END) AS s2,
                        SUM(CASE WHEN j = 3 THEN t END) AS s3
                 FROM enc GROUP BY vec_id, cell)
        SELECT s.vec_id AS id, round(qdc.qdotc + (((s0 + s1) + s2) + s3), 6) AS score
        FROM sums s JOIN qdc ON qdc.ci = s.cell
        WHERE s.cell IN (SELECT ci FROM qcells)
        ORDER BY score DESC, id LIMIT 20""")),

    QueryDef(
      "sim_linear_probe",
      // linear-head quality filtering, the deployment shape of every
      // fasttext-style classifier gate: w = difference of the
      // integer-exact label-0/label-1 centroids (nearest-centroid
      // classifier in linear form), score = sigmoid(w·x) as ONE codegen'd
      // dot per row. Weights train anywhere; scoring never shuffles.
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val w = Similarity.centroidProbeWeights(emb, "embedding", "label", 0, 1)
        Similarity.linearProbe(emb, "embedding", "vec_id", w)
          .orderBy(col("score").desc, col("id"))
          .limit(20)
      },
      Some("""
        WITH x AS (
          SELECT label, i - 1 AS pos,
                 CAST(floor(v[i] * 1048576) AS BIGINT) AS q
          FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings WHERE label IN (0, 1)),
               (SELECT unnest(generate_series(1, 64)) AS i) t),
        m AS (
          SELECT label, pos,
                 round(CAST(SUM(q) AS DOUBLE) / COUNT(*) / 1048576, 6) AS m
          FROM x GROUP BY label, pos),
        w AS (
          SELECT pos, SUM(CASE WHEN label = 1 THEN m ELSE -m END) AS w
          FROM m GROUP BY pos),
        wv AS (SELECT list(w ORDER BY pos) AS wl FROM w),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT vec_id AS id,
               round(1.0 / (1.0 + exp(-list_dot_product(e.v, wv.wl))), 6) AS score
        FROM e, wv ORDER BY score DESC, id LIMIT 20""")),

    QueryDef(
      "sim_probe_calibration",
      // reliability table for the centroid probe: per decile of the 6-dp
      // score, observed positive rate vs mean score in exact integer ppm —
      // the calibration eval run before trusting probe-score thresholds.
      // Labels >1 exist in the table, so this also exercises the probe on
      // out-of-training-class vectors (their rate is whatever it is; the
      // gate pins it as data).
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val w = Similarity.centroidProbeWeights(emb, "embedding", "label", 0, 1)
        Similarity.probeCalibration(emb, "embedding", "label", w, posLabel = 1)
      },
      Some("""
        WITH x AS (
          SELECT label, i - 1 AS pos,
                 CAST(floor(v[i] * 1048576) AS BIGINT) AS q
          FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings WHERE label IN (0, 1)),
               (SELECT unnest(generate_series(1, 64)) AS i) t),
        m AS (
          SELECT label, pos,
                 round(CAST(SUM(q) AS DOUBLE) / COUNT(*) / 1048576, 6) AS m
          FROM x GROUP BY label, pos),
        w AS (
          SELECT pos, SUM(CASE WHEN label = 1 THEN m ELSE -m END) AS w
          FROM m GROUP BY pos),
        wv AS (SELECT list(w ORDER BY pos) AS wl FROM w),
        scored AS (
          SELECT round(1.0 / (1.0 + exp(-list_dot_product(
                   CAST(e.embedding AS DOUBLE[]), wv.wl))), 6) AS score,
                 CASE WHEN e.label = 1 THEN 1 ELSE 0 END AS pos
          FROM embeddings e, wv)
        SELECT LEAST(CAST(floor(score * 10) AS INTEGER), 9) AS bin,
               COUNT(*) AS n, CAST(SUM(pos) AS BIGINT) AS n_pos,
               CAST(SUM(CAST(round(score * 1000000) AS BIGINT)) // COUNT(*)
                 AS BIGINT) AS mean_score_ppm,
               CAST(SUM(pos) * 1000000 // COUNT(*) AS BIGINT) AS pos_rate_ppm
        FROM scored GROUP BY 1""")),

    QueryDef(
      "sim_embed_cov",
      // embedding covariance in long form — the PCA/whitening input.
      // Components quantize to a 2^-10 grid so all aggregates are
      // integer sums (order-independent); the upper-triangle explode and
      // the linear-sum sentinel rows come out of ONE generator pass, and
      // the only shuffle is the (i, j) hash-aggregate.
      (s, dir) => Similarity.covarianceLong(Tables.embeddings(s, dir), "embedding"),
      Some("""
        WITH e AS (SELECT list_transform(CAST(embedding AS DOUBLE[]),
                     x -> CAST(floor(x * 1024) AS BIGINT)) AS q
                   FROM embeddings),
        p AS (
          SELECT a.i - 1 AS i, b.j - 1 AS j, q[a.i] * q[b.j] AS p
          FROM e, (SELECT unnest(generate_series(1, 64)) AS i) a,
               (SELECT unnest(generate_series(1, 64)) AS j) b
          WHERE b.j >= a.i),
        s AS (SELECT i, j, SUM(p) AS s, COUNT(*) AS n FROM p GROUP BY i, j),
        l AS (SELECT i - 1 AS i, SUM(q[i]) AS sx
              FROM e, (SELECT unnest(generate_series(1, 64)) AS i) t GROUP BY 1)
        SELECT CAST(s.i AS BIGINT) AS i, CAST(s.j AS BIGINT) AS j,
               round((CAST(s.s AS DOUBLE) / n -
                      (CAST(li.sx AS DOUBLE) / n) * (CAST(lj.sx AS DOUBLE) / n))
                     / 1048576.0, 6) + 0.0 AS cov
        FROM s JOIN l li ON li.i = s.i JOIN l lj ON lj.i = s.j""")),

    QueryDef(
      "text_logprob",
      // perplexity-proxy quality scoring: per-doc mean corpus-unigram
      // log-probability; token log-probs rounded to 9 places and summed
      // as DECIMAL so the per-doc total is exact under any fold order
      (s, dir) => TextAnalysis.unigramLogProb(
        Tables.documents(s, dir), "text", "doc_id"),
      Some(s"""
        WITH toks AS (SELECT doc_id, unnest($WordsSql) AS token FROM documents),
        vocab AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
        tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM vocab),
        lp AS (SELECT doc_id,
                      CAST(round(ln(CAST(cnt AS DOUBLE) / total), 9) AS DECIMAL(20,9)) AS lp
               FROM toks JOIN vocab USING (token), tot)
        SELECT doc_id, COUNT(*) AS n_tokens,
               round(CAST(SUM(lp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS avg_logprob
        FROM lp GROUP BY doc_id""")),

    QueryDef(
      "text_bigram_lm",
      // conditional bigram log-prob scoring — next-token predictability,
      // one rung above text_logprob's unigram proxy; same bounded-vocab
      // join shape (corpus exploded once, counts checkpointed)
      (s, dir) => TextAnalysis.bigramLogProb(
        Tables.documents(s, dir), "text", "doc_id"),
      Some(s"""
        WITH t AS (SELECT doc_id, $WordsSql AS w FROM documents),
        bg AS (
          SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
                                 for i in generate_series(1, len(w)-1)]) AS bigram
          FROM t),
        counts AS (SELECT bigram, COUNT(*) AS c12 FROM bg GROUP BY bigram),
        ctx AS (SELECT split_part(bigram, ' ', 1) AS w1, SUM(c12) AS c1
                FROM counts GROUP BY 1),
        lp AS (
          SELECT doc_id,
                 CAST(round(ln(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE)), 9)
                      AS DECIMAL(20,9)) AS lp
          FROM bg JOIN counts USING (bigram)
                  JOIN ctx ON split_part(bigram, ' ', 1) = ctx.w1)
        SELECT doc_id, COUNT(*) AS n_bigrams,
               round(CAST(SUM(lp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS avg_logprob
        FROM lp GROUP BY doc_id""")),

    QueryDef(
      "pipeline_interleave",
      // deterministic weighted interleave: the fixed mixing schedule that
      // serializes sources into one reproducible training order. Exact
      // integer stride keys -> identical order in any engine; one shuffle
      // + a TakeOrdered prefix.
      (s, dir) => graft.operators.Curation.interleaveSchedule(
        Tables.documents(s, dir), "source", "doc_id",
        weight = substring(col("source"), 4, 10).cast("int") % 3 + 1,
        take = 500),
      Some("""
        WITH w AS (
          SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
                 CAST(substr(source, 4) AS INT) % 3 + 1 AS wt
          FROM documents),
        k AS (SELECT doc_id, source, rn, (rn - 1) * (6 // wt) AS key FROM w),
        s AS (SELECT * FROM k ORDER BY key, source, rn LIMIT 500)
        SELECT row_number() OVER (ORDER BY key, source, rn) AS pos, source, doc_id
        FROM s""")),

    QueryDef(
      "text_hashed_features",
      // hashing-trick bigram features: fixed 512-bucket space via the
      // md5-family hash, long-form output; one aggregate over the exploded
      // n-gram stream, zero joins, no vocabulary state.
      (s, dir) => TextAnalysis.hashedFeatures(
        Tables.documents(s, dir), "text", "doc_id", dim = 512),
      Some(s"""
        WITH t AS (SELECT doc_id, $WordsSql AS w FROM documents),
        bg AS (
          SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
                                 for i in generate_series(1, len(w)-1)]) AS bigram
          FROM t)
        SELECT doc_id,
               ${OracleSql.md5Hash60("bigram")} % 512 AS idx,
               COUNT(*) AS c
        FROM bg GROUP BY 1, 2""")),

    QueryDef(
      "text_embed_hash",
      // MODEL-FREE document embeddings: hashed-bigram counts projected
      // through a deterministic ±1 matrix (signs from the md5 family) to
      // 16 dims — the classic random-projection text embedding that needs
      // no trained model and no vocabulary, yet feeds the whole sim_*
      // family downstream. The projection matrix is a GENERATED 256×16
      // frame (broadcast); the doc side is one aggregate over the
      // exploded n-gram stream. All-integer — exact in both engines.
      (s, dir) => {
        val feats = TextAnalysis.hashedFeatures(
          Tables.documents(s, dir), "text", "doc_id", dim = 256)
        val proj = s.range(256).select(col("id").as("idx"))
          .crossJoin(s.range(16).select(col("id").as("dim")))
          .select(col("idx"), col("dim"),
            (graft.operators.Dedup.md5Hash60(
              (col("idx") * 16 + col("dim")).cast("string")) % 2 * 2 - 1)
              .as("sign"))
        feats.join(broadcast(proj), Seq("idx"))
          .groupBy(col("doc_id"), col("dim"))
          .agg(sum(col("c") * col("sign")).as("v"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, $WordsSql AS w FROM documents),
        bg AS (
          SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
                                 for i in generate_series(1, len(w)-1)]) AS bigram
          FROM t),
        f AS (
          SELECT doc_id, ${OracleSql.md5Hash60("bigram")} % 256 AS idx,
                 COUNT(*) AS c
          FROM bg GROUP BY 1, 2),
        proj AS (
          SELECT b.b AS idx, d.d AS dim,
                 ${OracleSql.md5Hash60("CAST(b.b * 16 + d.d AS VARCHAR)")} % 2 * 2 - 1
                   AS sign
          FROM (SELECT unnest(generate_series(0, 255)) AS b) b,
               (SELECT unnest(generate_series(0, 15)) AS d) d)
        SELECT doc_id, dim, CAST(SUM(c * sign) AS BIGINT) AS v
        FROM f JOIN proj USING (idx)
        GROUP BY 1, 2""")),

    QueryDef(
      "text_collocations",
      // corpus-level PMI collocation mining (multiword expressions a vocab
      // builder would protect before BPE training): exact-count PMI with a
      // min-count gate, top-k with total tie-break. Corpus scanned twice,
      // never shuffled; count frames are vocab-sized; top-k is
      // TakeOrderedAndProject.
      (s, dir) => TextAnalysis.collocations(
        Tables.documents(s, dir), "text", "doc_id", minCount = 5, k = 50),
      Some(s"""
        WITH toks AS (SELECT unnest($WordsSql) AS token FROM documents),
        uni AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY token),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM uni),
        t AS (SELECT $WordsSql AS w FROM documents),
        bg AS (SELECT unnest([w[i] || ' ' || w[i+1]
                              for i in generate_series(1, len(w)-1)]) AS bigram
               FROM t),
        big AS (SELECT bigram, COUNT(*) AS c12 FROM bg
                GROUP BY bigram HAVING COUNT(*) >= 5)
        SELECT bigram, c12,
               round(ln(CAST(c12 * n_total AS DOUBLE) /
                        CAST(u1.c * u2.c AS DOUBLE)), 6) AS pmi
        FROM big
        JOIN uni u1 ON split_part(bigram, ' ', 1) = u1.token
        JOIN uni u2 ON split_part(bigram, ' ', 2) = u2.token
        CROSS JOIN tot
        ORDER BY pmi DESC, bigram LIMIT 50""")),

    QueryDef(
      "pipeline_semantic_curate",
      // TEXT-quality × EMBEDDING-space curation across both tables: keep
      // documents that pass the quality gate AND whose embedding survives
      // semantic dedup (components over full-corpus cosine pairs, min-id
      // representative). The cross-modal join is a left-semi against the
      // (tiny) surviving-id set — at 100 TB the corpus passes once, the
      // embedding side stays banded/bucketed throughout.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val emb = Tables.embeddings(s, dir)
        val pairs = Similarity.dataPlaneCosinePairs(
          emb, "embedding", "vec_id", threshold = 0.3, numPlanes = 4)
        val clusters = Dedup.connectedComponents(pairs, "id_a", "id_b")
        val keptVecs = Dedup.keepRepresentatives(
          emb.select(col("vec_id")), "vec_id", clusters)
        docs.filter(TextAnalysis.qualityScore(col("text")) >= 0.5)
          .join(keptVecs, docs("doc_id") === keptVecs("vec_id"), "left_semi")
          .agg(count(lit(1)).as("n_kept"),
            sum(col("doc_id")).cast("long").as("id_sum"))
      },
      Some("""WITH RECURSIVE e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        p AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS pj, v AS pv
          FROM e ORDER BY vec_id LIMIT 4),
        b AS (
          SELECT e.vec_id, e.v,
                 CAST(SUM(CASE WHEN list_dot_product(e.v, p.pv) >= 0
                               THEN (1::BIGINT << pj) ELSE 0 END) AS BIGINT) AS bucket
          FROM e, p GROUP BY e.vec_id, e.v),
        prs AS (
          SELECT a.vec_id AS id_a, b2.vec_id AS id_b
          FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
          WHERE list_dot_product(a.v, b2.v) /
                (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b2.v, b2.v))) >= 0.3),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM prs
          UNION SELECT id_b, id_a FROM prs),
        reach AS (
          SELECT src AS node, dst AS peer FROM edges
          UNION
          SELECT r.node, e2.dst AS peer
          FROM reach r JOIN edges e2 ON e2.src = r.peer),
        cc AS (SELECT node AS id, least(node, min(peer)) AS cid
               FROM reach GROUP BY node),
        dropped AS (SELECT id FROM cc WHERE id <> cid),
        q AS (
          SELECT doc_id FROM documents
          WHERE round(
              least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5 +
              least(CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|a|is|it|for|on)\b')) AS DOUBLE)
                    / (CAST(len(regexp_extract_all(text, '[^ ]+')) AS DOUBLE) + 1.0) * 5.0, 1.0) * 0.3 +
              (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
                     / (CAST(length(text) AS DOUBLE) + 1.0)) * 0.2, 6) >= 0.5)
        SELECT COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum
        FROM q WHERE doc_id NOT IN (SELECT id FROM dropped)""")),

    QueryDef(
      "pipeline_quantile_filter",
      // corpus-relative quality gating: drop the bottom 20% by score. The
      // threshold is ONE exact-percentile aggregate (sort-based, one
      // scalar) broadcast back over a second scan — the corpus itself
      // never shuffles. Both engines interpolate linearly over the same
      // 6-decimal-rounded scores, so the cut is reproducible.
      (s, dir) => graft.operators.Curation.quantileFilter(
          Tables.documents(s, dir).select(col("doc_id"), col("text")), "text", 0.2)
        .agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id")).cast("long").as("id_sum"),
          round(min(col("threshold")), 6).as("threshold")),
      Some("""
        WITH scored AS (
          SELECT doc_id,
                 round(
                   least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5 +
                   least(CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|a|is|it|for|on)\b')) AS DOUBLE)
                         / (CAST(len(regexp_extract_all(text, '[^ ]+')) AS DOUBLE) + 1.0) * 5.0, 1.0) * 0.3 +
                   (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
                          / (CAST(length(text) AS DOUBLE) + 1.0)) * 0.2, 6) AS q
          FROM documents),
        th AS (SELECT quantile_cont(q, 0.2) AS t FROM scored)
        SELECT COUNT(*) AS n_kept,
               CAST(SUM(doc_id) AS BIGINT) AS id_sum,
               round(MIN(t), 6) AS threshold
        FROM scored, th WHERE q >= t""")),

    QueryDef(
      "pipeline_stratified",
      // stratified sampling: per-language keep rates as one CASE filter —
      // the mixture knob with zero joins/shuffles, membership a pure
      // content-hash function
      (s, dir) => graft.operators.Sampling.stratifiedSample(
          Tables.documents(s, dir), "doc_id", "lang",
          Map("en" -> 80, "de" -> 50, "fr" -> 50, "es" -> 50, "zh" -> 25))
        .groupBy(col("lang")).agg(count(lit(1)).as("n_kept")),
      Some(s"""
        SELECT lang, COUNT(*) AS n_kept
        FROM (SELECT lang, ${OracleSql.md5Hash60("doc_id")} % 100 AS b FROM documents)
        WHERE b < CASE lang WHEN 'en' THEN 80 WHEN 'de' THEN 50 WHEN 'fr' THEN 50
                            WHEN 'es' THEN 50 WHEN 'zh' THEN 25 ELSE 0 END
        GROUP BY lang""")),

    QueryDef(
      "pipeline_domain_cap",
      // per-domain frequency cap (C4/RefinedWeb-style): at most 5 docs per
      // source, best-quality-first. ONE shuffle keyed by domain; the
      // row_number<=cap filter rewrites to WindowGroupLimit so each task
      // ships cap-bounded rows per domain into the exchange.
      (s, dir) => graft.operators.Curation.domainCap(
          Tables.documents(s, dir), "source", "doc_id",
          TextAnalysis.qualityScore(col("text")), 5)
        .select(col("source"), col("doc_id"), col("rnk").cast("long").as("rnk")),
      Some(s"""
        WITH scored AS (
          SELECT source, doc_id, $QualityExprSql AS q FROM documents),
        r AS (
          SELECT source, doc_id,
                 row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS rnk
          FROM scored)
        SELECT source, doc_id, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 5""")),

    QueryDef(
      "text_tfidf",
      // top-3 TF-IDF terms per doc: corpus exploded once, tf + df from two
      // aggregates over that stream, vocabulary-sized df side broadcast
      // back, per-doc top-k pruned below the exchange (WindowGroupLimit).
      // Scores rounded to 6 BEFORE ranking; term is the tiebreaker.
      (s, dir) => TextAnalysis.tfidfTopTerms(
        Tables.documents(s, dir), "text", "doc_id", 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          col("tfidf"), col("rnk").cast("long").as("rnk")),
      Some(s"""
        WITH toks AS (
          SELECT doc_id, unnest($WordsSql) AS term FROM documents),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
        df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
        n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
        s AS (
          SELECT tf.doc_id, tf.term, tf.tf, df.df,
                 round(tf.tf * ln(CAST(n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)), 6) AS tfidf
          FROM tf JOIN df USING (term), n),
        r AS (
          SELECT doc_id, term, tf, df, tfidf,
                 row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
          FROM s)
        SELECT doc_id, term, tf, df, tfidf, CAST(rnk AS BIGINT) AS rnk
        FROM r WHERE rnk <= 3""")),

    QueryDef(
      "dedup_edit_distance",
      // blocked edit-distance near-dup join (the ER dedup shape): pairs in
      // the same normalized-length bucket with levenshtein <= 30. One
      // equi-join on the block key — never all-pairs; levenshtein runs
      // codegen'd inside the join.
      (s, dir) => Dedup.editDistancePairs(
        Tables.documents(s, dir), "text", "doc_id", maxDistance = 30)
        .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist")),
      Some("""
        WITH d AS (
          SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
          FROM documents)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist
        FROM d a JOIN d b
          ON a.doc_id < b.doc_id AND length(a.t) // 32 = length(b.t) // 32
        WHERE levenshtein(a.t, b.t) <= 30""")),

    QueryDef(
      "dedup_substring_spans",
      // exact-substring duplicate spans (Lee et al. ExactSubstr at word-8-gram
      // granularity): every 8-gram instance whose gram occurs in >1 document.
      // One explode + one gram-keyed aggregate + broadcast semi-join back.
      (s, dir) => Dedup.duplicatedSpans(
        Tables.documents(s, dir), "text", "doc_id", k = 8),
      Some(s"""
        WITH $SpanInstCtes,
        dup AS (
          SELECT gram, COUNT(DISTINCT doc_id) AS n_docs
          FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) > 1)
        SELECT g.doc_id, g.start_idx, g.gram, dup.n_docs
        FROM g JOIN dup USING (gram)""")),

    QueryDef(
      "dedup_cdc",
      // content-defined chunk dedup: cuts where the 16-byte rolling hash
      // has its low 6 bits zero, chunk identity = (base-257 fold, len);
      // every duplicated chunk with occurrence/doc counts. The oracle
      // replays both hashes in HUGEINT (mod 2^64) arithmetic and the cut
      // rule on the unsigned low bits.
      (s, dir) => Dedup.cdcDuplicatedChunks(
        Tables.documents(s, dir), "text", "doc_id", window = 16, divisor = 64),
      Some("""
        WITH b AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents),
        v AS (
          SELECT doc_id, list_transform(generate_series(1, length(hx)//2),
                   i -> 16*(strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1))-1)
                        + (strpos('0123456789ABCDEF', substr(hx, 2*i, 1))-1)) AS bs
          FROM b),
        cuts AS (
          SELECT doc_id, list_sort(list(i)) AS cl
          FROM v, LATERAL (SELECT unnest(generate_series(16, len(bs))) AS i) t
          WHERE list_reduce(list_prepend(0::HUGEINT, bs[i-15:i]),
                  (a, x) -> (a*257 + x + 1) % 18446744073709551616::HUGEINT) % 64 = 0
          GROUP BY doc_id),
        ranges AS (
          SELECT v.doc_id, v.bs,
                 list_prepend(1, list_transform(COALESCE(cuts.cl, []), c -> c + 1)) AS ss,
                 list_append(COALESCE(cuts.cl, []), len(v.bs)) AS es
          FROM v LEFT JOIN cuts USING (doc_id)),
        chunks AS (
          SELECT doc_id, bs, ss[k] AS s, es[k] AS e
          FROM ranges, LATERAL (SELECT unnest(generate_series(1, len(ss))) AS k) t
          WHERE ss[k] <= es[k]),
        fps AS (
          SELECT doc_id, CAST(e - s + 1 AS BIGINT) AS len,
                 (SELECT h FROM (SELECT list_reduce(list_prepend(0::HUGEINT, bs[s:e]),
                    (a, x) -> (a*257 + x + 1) % 18446744073709551616::HUGEINT) AS h)) AS hu
          FROM chunks)
        SELECT CAST(CASE WHEN hu >= 9223372036854775808::HUGEINT
                         THEN hu - 18446744073709551616::HUGEINT ELSE hu END AS BIGINT) AS fp,
               len, COUNT(*) AS occ, COUNT(DISTINCT doc_id) AS n_docs
        FROM fps GROUP BY 1, 2 HAVING COUNT(*) > 1""")),

    QueryDef(
      "dedup_cdc_rebuild",
      // chunk-level keep-one-copy: first occurrence by (doc_id, chunk_idx)
      // of each duplicated chunk identity survives, documents reassembled
      // from surviving chunks in order (chunks tile the text, so the
      // rebuild is exact). Oracle replays the same cut rule + fold, ranks
      // occurrences with a window, and string_aggs the kept chunks —
      // byte positions equal char positions on this corpus (pure ASCII,
      // asserted via octet_length == length at both SFs).
      (s, dir) => Dedup.cdcRebuild(
        Tables.documents(s, dir), "text", "doc_id", window = 16, divisor = 64),
      Some("""
        WITH b AS (SELECT doc_id, text, hex(encode(text)) AS hx FROM documents),
        v AS (
          SELECT doc_id, text, list_transform(generate_series(1, length(hx)//2),
                   i -> 16*(strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1))-1)
                        + (strpos('0123456789ABCDEF', substr(hx, 2*i, 1))-1)) AS bs
          FROM b),
        cuts AS (
          SELECT doc_id, list_sort(list(i)) AS cl
          FROM v, LATERAL (SELECT unnest(generate_series(16, len(bs))) AS i) t
          WHERE list_reduce(list_prepend(0::HUGEINT, bs[i-15:i]),
                  (a, x) -> (a*257 + x + 1) % 18446744073709551616::HUGEINT) % 64 = 0
          GROUP BY doc_id),
        ranges AS (
          SELECT v.doc_id, v.text, v.bs,
                 list_prepend(1, list_transform(COALESCE(cuts.cl, []), c -> c + 1)) AS ss,
                 list_append(COALESCE(cuts.cl, []), len(v.bs)) AS es
          FROM v LEFT JOIN cuts USING (doc_id)),
        chunks AS (
          SELECT doc_id, text, bs, k, ss[k] AS s, es[k] AS e
          FROM ranges, LATERAL (SELECT unnest(generate_series(1, len(ss))) AS k) t
          WHERE ss[k] <= es[k]),
        fps AS (
          SELECT doc_id, k, substr(text, s, e - s + 1) AS chunk,
                 CAST(e - s + 1 AS BIGINT) AS len,
                 list_reduce(list_prepend(0::HUGEINT, bs[s:e]),
                   (a, x) -> (a*257 + x + 1) % 18446744073709551616::HUGEINT) AS hu
          FROM chunks),
        marked AS (
          SELECT doc_id, k, chunk,
                 ROW_NUMBER() OVER (PARTITION BY hu, len ORDER BY doc_id, k) AS rn,
                 COUNT(*) OVER (PARTITION BY hu, len) AS occ
          FROM fps),
        kept AS (SELECT doc_id, k, chunk FROM marked WHERE occ = 1 OR rn = 1),
        per_doc AS (
          SELECT doc_id, string_agg(chunk, '' ORDER BY k) AS text,
                 COUNT(*) AS n_kept
          FROM kept GROUP BY doc_id),
        totals AS (SELECT doc_id, COUNT(*) AS n_chunks FROM fps GROUP BY doc_id)
        SELECT d.doc_id, COALESCE(p.text, '') AS text,
               COALESCE(p.n_kept, 0) AS n_kept,
               COALESCE(t.n_chunks, 0) - COALESCE(p.n_kept, 0) AS n_dropped
        FROM documents d
        LEFT JOIN per_doc p USING (doc_id)
        LEFT JOIN totals t USING (doc_id)""")),

    QueryDef(
      "dedup_substring_rebuild",
      // remove duplicated spans keeping one copy corpus-wide (first
      // instance by (doc_id, start_idx)), reassemble surviving words in
      // order. The covered-position explode is bounded by the duplicated
      // spans (x8 rows on spans only — never the corpus).
      (s, dir) => Dedup.removeDuplicatedSpans(
        Tables.documents(s, dir), "text", "doc_id", k = 8),
      Some(s"""
        WITH $SpanInstCtes,
        words AS (
          SELECT doc_id, CAST(p - 1 AS BIGINT) AS pos, ws[p] AS word
          FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS p) t),
        dup AS (
          SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) > 1),
        inst AS (
          SELECT g.doc_id, g.start_idx, g.gram FROM g JOIN dup USING (gram)),
        ranked AS (
          SELECT doc_id, start_idx,
                 row_number() OVER (PARTITION BY gram ORDER BY doc_id, start_idx) AS rn
          FROM inst),
        covered AS (
          SELECT DISTINCT doc_id, start_idx + off AS pos
          FROM ranked, LATERAL (SELECT unnest(generate_series(0, 7)) AS off) o
          WHERE rn > 1),
        kept AS (
          SELECT words.doc_id, words.pos, words.word
          FROM words LEFT JOIN covered
            ON words.doc_id = covered.doc_id AND words.pos = covered.pos
          WHERE covered.doc_id IS NULL),
        agg AS (
          SELECT doc_id, COUNT(*) AS n_kept,
                 string_agg(word, ' ' ORDER BY pos) AS text
          FROM kept GROUP BY doc_id),
        tot AS (SELECT doc_id, COUNT(*) AS n_words FROM words GROUP BY doc_id)
        SELECT tot.doc_id, COALESCE(agg.text, '') AS text,
               CAST(COALESCE(agg.n_kept, 0) AS BIGINT) AS n_kept,
               CAST(tot.n_words - COALESCE(agg.n_kept, 0) AS BIGINT) AS n_dropped
        FROM tot LEFT JOIN agg USING (doc_id)""")),

    QueryDef(
      "text_bpe_count",
      // REAL BPE tokenizer through the gate: piece counts under a fixed
      // 32-merge table (trained once on this corpus by TextAnalysis.bpeTrain
      // — deterministic, pinned by R5OperatorsSpec). The native bpe_count
      // expression applies merges in rank order with a left-to-right scan;
      // the oracle replays the identical semantics as a per-merge global
      // replace over a double-space-separated symbol string.
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.bpeCount(GateBpeMerges)(col("text")).as("n_bpe")),
      Some(s"""
        WITH wds AS (
          SELECT doc_id, unnest($WordsSql) AS w FROM documents)
        SELECT doc_id,
               CAST(sum(len(string_split(trim($BpeFoldSql, ' '), '  '))) AS BIGINT) AS n_bpe
        FROM wds GROUP BY doc_id""")),

    QueryDef(
      "text_summarize",
      // EXTRACTIVE summarization (Luhn 1958): each document's top-2
      // sentences by summed corpus word frequency — the classic
      // preprocessing summarizer. The corpus frequency side is ONE
      // vocab-sized aggregate broadcast back; sentences explode once;
      // the per-doc top-2 is a rank filter Spark rewrites to
      // WindowGroupLimit below the exchange. Deterministic: integer
      // scores, ties to sentence position.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val freq = graft.Materialize.localCheckpoint(
          docs.select(explode(TextAnalysis.tokens(col("text"))).as("token"))
            .groupBy(col("token")).agg(count(lit(1)).as("f")))
        val sents = docs.select(col("doc_id"),
            posexplode(split(col("text"), "[.!?]+")).as(Seq("idx", "sent")))
          .withColumn("sent", trim(col("sent")))
          .filter(length(col("sent")) > 0)
        val scored = sents
          .select(col("doc_id"), col("idx"), col("sent"),
            explode(TextAnalysis.tokens(col("sent"))).as("token"))
          .join(freq, Seq("token"))
          .groupBy(col("doc_id"), col("idx"), col("sent"))
          .agg(sum(col("f")).as("score"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("score").desc, col("idx"))
        scored.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 2)
          .select(col("doc_id"), col("rk"), col("idx"), col("score"))
      },
      Some(s"""
        WITH freq AS (
          SELECT token, COUNT(*) AS f FROM (
            SELECT unnest($WordsSql) AS token FROM documents) GROUP BY 1),
        sp AS (
          SELECT doc_id, string_split_regex(text, '[.!?]+') AS ss FROM documents),
        sen AS (
          SELECT doc_id, i - 1 AS idx, trim(ss[i]) AS sent
          FROM sp, LATERAL (SELECT unnest(generate_series(1, len(ss))) AS i) t
          WHERE len(trim(ss[i])) > 0),
        toks AS (
          SELECT doc_id, idx, sent,
                 unnest(list_filter(string_split_regex(lower(sent), '\\s+'),
                                    w -> len(w) > 0)) AS token
          FROM sen),
        sc AS (
          SELECT doc_id, idx, sent, CAST(SUM(f) AS BIGINT) AS score
          FROM toks JOIN freq USING (token)
          GROUP BY 1, 2, 3)
        SELECT doc_id, rk, idx, score FROM (
          SELECT doc_id, idx, score,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, idx) AS rk
          FROM sc) WHERE rk <= 2""")),

    QueryDef(
      "text_templates",
      // boilerplate TEMPLATE MINING at paragraph granularity (the Drain-
      // style log-clustering shape): digit-masked normalized paragraphs
      // that repeat across the corpus are instances of one generator —
      // the signal a boilerplate stripper keys on. One hash-aggregate
      // over the exploded paragraph stream (the normalize/mask projection
      // is free), top-20 repeated templates with total tie-break.
      (s, dir) => paragraphedDocs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), "\n")).as("para"))
        .groupBy(regexp_replace(
          trim(regexp_replace(lower(col("para")), "\\s+", " ")),
          "[0-9]+", "#").as("template"))
        .agg(count(lit(1)).as("n_copies"),
          min(col("doc_id")).cast("long").as("first_doc"))
        .filter(col("n_copies") >= 2)
        .orderBy(col("n_copies").desc, col("template"))
        .limit(20),
      Some(s"""
        WITH $ParagraphCtes
        SELECT regexp_replace(k, '[0-9]+', '#', 'g') AS template,
               COUNT(*) AS n_copies,
               CAST(MIN(doc_id) AS BIGINT) AS first_doc
        FROM d
        GROUP BY 1 HAVING COUNT(*) >= 2
        ORDER BY n_copies DESC, template LIMIT 20""")),

    QueryDef(
      "text_ngram_novelty",
      // per-document n-gram NOVELTY: the fraction of a doc's distinct
      // 3-gram shingles that appear in NO other document — the
      // memorization/leakage proxy (a low-novelty doc is mostly made of
      // corpus-shared phrasing; a near-1.0 doc is fresh text). Two
      // shuffles of the codegen'd shingle stream: one document-frequency
      // aggregate, one join back + per-doc aggregate — the same shape at
      // any corpus size, gram frame bounded by the shingle vocabulary.
      (s, dir) => {
        val grams = Tables.documents(s, dir).select(col("doc_id"),
          explode(graft.functions.GraftFunctions.word_shingles(col("text"), 3))
            .as("g"))
        val dfreq = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
        grams.join(dfreq, "g")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
          .withColumn("novelty",
            round(col("n_unique").cast("double") / col("n_grams"), 6))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, $WordsSql AS w FROM documents),
        g AS (SELECT doc_id, unnest(${shinglesSql("w")}) AS g FROM t),
        d AS (SELECT g, COUNT(*) AS df FROM g GROUP BY g)
        SELECT doc_id, COUNT(*) AS n_grams,
               CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
               round(CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
                     COUNT(*), 6) AS novelty
        FROM g JOIN d USING (g) GROUP BY doc_id""")),

    QueryDef(
      "text_fertility",
      // tokenizer FERTILITY by language (pieces per word — the standard
      // tokenizer-evaluation metric; a language far above 1.0 is being
      // over-segmented and undertrained): the real BPE encoder's piece
      // counts aggregated per language against whitespace word counts.
      // One language-keyed aggregate over per-doc codegen'd counts — the
      // corpus never shuffles as text.
      (s, dir) => Tables.documents(s, dir)
        .groupBy(col("lang"))
        .agg(
          sum(TextAnalysis.bpeCount(GateBpeMerges)(col("text"))).cast("long")
            .as("n_pieces"),
          sum(size(TextAnalysis.tokens(col("text")))).cast("long").as("n_words"))
        .withColumn("fertility",
          round(col("n_pieces").cast("double") / col("n_words"), 6)),
      Some(s"""
        WITH wds AS (
          SELECT doc_id, lang, unnest($WordsSql) AS w FROM documents),
        pcs AS (
          SELECT lang, len(string_split(trim($BpeFoldSql, ' '), '  ')) AS p
          FROM wds)
        SELECT lang,
               CAST(SUM(p) AS BIGINT) AS n_pieces,
               COUNT(*) AS n_words,
               round(CAST(SUM(p) AS DOUBLE) / COUNT(*), 6) AS fertility
        FROM pcs GROUP BY lang""")),

    QueryDef(
      "pipeline_chunk",
      // RAG/long-context chunking: 16-word windows, 8-word overlap. Zero
      // shuffle — split → sequence → explode → slice, all codegen'd.
      (s, dir) => graft.operators.Curation.chunkDocuments(
        Tables.documents(s, dir), "text", "doc_id",
        chunkSize = 16, overlap = 8),
      Some("""
        WITH w AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS ws
          FROM documents),
        c AS (SELECT doc_id, ws, len(ws) AS n FROM w WHERE len(ws) > 0),
        g AS (
          SELECT doc_id, ws,
                 unnest(generate_series(0,
                   CAST(ceil(greatest(n - 16, 0) / 8.0) AS BIGINT))) AS chunk_id
          FROM c)
        SELECT doc_id, chunk_id,
               array_to_string(ws[chunk_id*8+1 : chunk_id*8+16], ' ') AS chunk_text,
               CAST(len(ws[chunk_id*8+1 : chunk_id*8+16]) AS BIGINT) AS n_words
        FROM g""")),

    QueryDef(
      "pipeline_tokenize",
      // The real BPE tokenizer's full piece STREAM (not just counts):
      // (doc_id, pos, piece) rows in document order — what a tokenize step
      // actually hands to sequence packing. One native codegen'd
      // bpe_pieces scan + posexplode; no shuffle. The oracle replays the
      // replace-chain formulation per word and re-derives global positions
      // by (word index, piece index).
      (s, dir) => Tables.documents(s, dir)
        .filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"),
          posexplode(TextAnalysis.bpePieces(GateBpeMerges)(col("text")))
            .as(Seq("pos", "piece")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("piece")),
      Some(s"""
        WITH wds AS (
          SELECT doc_id, unnest($WordsSql) AS w,
                 unnest(generate_series(1, len($WordsSql))) AS wpos
          FROM documents WHERE doc_id % 5 = 0),
        pieces AS (
          SELECT doc_id, wpos,
                 string_split(trim($BpeFoldSql, ' '), '  ') AS ps
          FROM wds),
        flat AS (
          SELECT doc_id, wpos, unnest(ps) AS piece,
                 unnest(generate_series(1, len(ps))) AS ppos
          FROM pieces)
        SELECT doc_id,
               row_number() OVER (PARTITION BY doc_id ORDER BY wpos, ppos) - 1 AS pos,
               piece
        FROM flat""")),

    QueryDef(
      "sample_weighted",
      // weighted sampling without replacement (Efraimidis–Spirakis): the
      // top-100 orders by deterministic priority ln(u)/w where u comes
      // from the key's md5 — reproducible membership like every sampler
      // here, and the plan is one projection + TakeOrderedAndProject (no
      // shuffle of the corpus). Selection orders by the 9-digit-rounded
      // priority so a ≤1-ulp JVM/libm `ln` gap cannot flip an ordering.
      (s, dir) => graft.operators.Sampling.weightedSample(
        Tables.orders(s, dir), "o_orderkey", "o_totalprice", k = 100),
      Some(s"""
        WITH h AS (
          SELECT o_orderkey, o_totalprice,
                 round(ln((${OracleSql.md5Hash60("o_orderkey")} + 1)::DOUBLE /
                          CAST(1152921504606846976 AS DOUBLE)) / o_totalprice, 9) AS pri
          FROM orders)
        SELECT o_orderkey, o_totalprice, round(pri, 6) + 0.0 AS priority
        FROM h ORDER BY pri DESC, o_orderkey LIMIT 100""")),

    QueryDef(
      "feature_target_encode",
      // leave-one-out target encoding of a categorical against a numeric
      // target (the classic tabular-feature primitive, LOO so a row never
      // sees its own label — the leakage guard). Category sums are exact
      // BIGINT cents; the per-row encode joins the metadata-sized category
      // frame back (AQE broadcasts it), so the fact table never shuffles.
      (s, dir) => {
        val o = Tables.orders(s, dir).select(
          col("o_orderkey"), col("o_orderpriority"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
        val g = o.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
        o.join(broadcast(g), Seq("o_orderpriority"))
          .select(col("o_orderkey"), col("o_orderpriority"), col("n"),
            when(col("n") > 1,
              round((col("s") - col("cents")).cast("double") /
                (col("n") - 1).cast("double") / 100.0, 4))
              .as("te"))
      },
      Some("""
        WITH o AS (
          SELECT o_orderkey, o_orderpriority,
                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
          FROM orders),
        g AS (SELECT o_orderpriority, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS s
              FROM o GROUP BY 1)
        SELECT o.o_orderkey, o.o_orderpriority, g.n,
               CASE WHEN g.n > 1 THEN
                 round(CAST(g.s - o.cents AS DOUBLE) / CAST(g.n - 1 AS DOUBLE) / 100.0, 4)
               END AS te
        FROM o JOIN g USING (o_orderpriority)""")),

    QueryDef(
      "pipeline_pref_pairs",
      // preference-pair construction (the DPO/RLHF data primitive): per
      // source group, pair the best- and worst-scoring documents as
      // (chosen, rejected) with their margin. Score here is the distinct-
      // token count; any column scorer drops in. ONE aggregate keyed by
      // group — argmax/argmin fold into the same pass as packed
      // (score·10^6 + id) BIGINTs, so ties are deterministic in both
      // engines and there is no window, no second shuffle.
      (s, dir) => {
        val sc = Tables.documents(s, dir).select(
          col("source"), col("doc_id"),
          size(array_distinct(filter(split(lower(col("text")), "\\s+"),
            w => length(w) > 0))).cast("long").as("score"))
        val packed = col("score") * 1000000L + col("doc_id")
        sc.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            max(packed).as("mx"), min(packed).as("mn"))
          .filter(col("n_docs") >= 2)
          .select(col("source"), col("n_docs"),
            (col("mx") % 1000000L).as("chosen_id"),
            floor(col("mx") / 1000000L).cast("long").as("chosen_score"),
            (col("mn") % 1000000L).as("rejected_id"),
            floor(col("mn") / 1000000L).cast("long").as("rejected_score"),
            (floor(col("mx") / 1000000L) - floor(col("mn") / 1000000L))
              .cast("long").as("margin"))
      },
      Some(s"""
        WITH sc AS (
          SELECT source, doc_id,
                 CAST(len(list_distinct($WordsSql)) AS BIGINT) AS score
          FROM documents),
        a AS (
          SELECT source, COUNT(*) AS n_docs,
                 MAX(score * 1000000 + doc_id) AS mx,
                 MIN(score * 1000000 + doc_id) AS mn
          FROM sc GROUP BY 1)
        SELECT source, n_docs,
               mx % 1000000 AS chosen_id, mx // 1000000 AS chosen_score,
               mn % 1000000 AS rejected_id, mn // 1000000 AS rejected_score,
               mx // 1000000 - mn // 1000000 AS margin
        FROM a WHERE n_docs >= 2""")),

    QueryDef(
      "pipeline_pack_masked",
      // SFT packing with loss masks: prompt span = first 32 tokens of each
      // doc (excluded from the loss), completion = the rest; same
      // content-hash-shuffled 2048-token windows as pipeline_pack, with
      // the per-window LOSS-token density folding into the same
      // (shard, window) aggregate — zero extra shuffles over plain packing.
      (s, dir) => graft.operators.Curation.packWithLossMask(
          Tables.documents(s, dir), "text", "doc_id", 2048,
          promptTokens = 32, shards = 8)
        .groupBy(col("shard"), col("window").as("win"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
          sum(col("n_loss")).as("n_loss")),
      Some(s"""
        WITH t AS (
          SELECT doc_id,
                 CAST(len(regexp_extract_all(text, '[^ ]+'))
                      + floor(length(text) / 16) AS BIGINT) AS nt,
                 ${OracleSql.md5Hash60("doc_id")} % 8 AS shard,
                 ${OracleSql.md5Hash60("doc_id")} AS h
          FROM documents),
        c AS (
          SELECT doc_id, nt, shard,
                 nt - least(nt, 32) AS loss,
                 SUM(nt) OVER (PARTITION BY shard ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt AS cum
          FROM t)
        SELECT shard, CAST(floor(cum / 2048) AS BIGINT) AS win,
               COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens,
               CAST(SUM(loss) AS BIGINT) AS n_loss
        FROM c GROUP BY shard, win""")),

    QueryDef(
      "sim_ann_rankeval",
      // rank-aware ANN eval: WHERE each brute-force top-10 truth item
      // lands in the LSH answer (null = missed), with an exact integer
      // reciprocal-rank numerator (2520 = lcm(1..10)) so MRR needs no
      // float accumulation — recall says if the index found the truth,
      // this says how deep the user must scroll for it.
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val qv = emb.filter(col("vec_id") === 0)
          .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
        Similarity.annRankEval(emb.filter(col("vec_id") =!= 0),
          "embedding", "vec_id", qv, k = 10, numPlanes = 3)
      },
      Some("""
        WITH q AS (
          SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id <> 0),
        sims AS (
          SELECT vec_id AS id,
                 round(list_dot_product(v, qv) /
                       (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS sim
          FROM e, q),
        brute AS (
          SELECT id, row_number() OVER (ORDER BY sim DESC, id) AS rk_b
          FROM sims ORDER BY sim DESC, id LIMIT 10),
        p AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS pj,
                 CAST(embedding AS DOUBLE[]) AS pv
          FROM embeddings WHERE vec_id <> 0 ORDER BY vec_id LIMIT 3),
        b AS (
          SELECT e.vec_id, e.v,
                 CAST(SUM(CASE WHEN list_dot_product(e.v, p.pv) >= 0
                               THEN (1::BIGINT << pj) ELSE 0 END) AS BIGINT) AS bucket
          FROM e, p GROUP BY e.vec_id, e.v),
        qb AS (
          SELECT CAST(SUM(CASE WHEN list_dot_product(q.qv, p.pv) >= 0
                               THEN (1::BIGINT << pj) ELSE 0 END) AS BIGINT) AS bucket
          FROM q, p),
        lsh0 AS (
          SELECT vec_id AS id,
                 round(list_dot_product(v, qv) /
                       (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS sim
          FROM b, q, qb WHERE b.bucket = qb.bucket),
        lsh AS (
          SELECT id, row_number() OVER (ORDER BY sim DESC, id) AS rk_l
          FROM lsh0 ORDER BY sim DESC, id LIMIT 10)
        SELECT brute.id, brute.rk_b, lsh.rk_l,
               COALESCE(2520 // lsh.rk_l, 0) AS rr2520
        FROM brute LEFT JOIN lsh USING (id)""")),

    QueryDef(
      "profile_psi",
      // population stability index — the production drift monitor for
      // tabular features: per-bucket (p−q)·ln(p/q) between a reference
      // and a current split (here the deterministic A/B key-hash halves,
      // whose correct reading is "no drift"). Counts are exact BIGINTs
      // over a fixed-width bucket grid; only the final per-bucket term is
      // a double, rounded. One aggregate over the fact table; the totals
      // row broadcasts back over the 10-row bucket frame.
      (s, dir) => {
        val o = Tables.orders(s, dir).select(
          least(floor(col("o_totalprice") / 20000), lit(9)).cast("long").as("bucket"),
          (col("o_orderkey") % 2 === 0).as("isref"))
        val agg = o.groupBy(col("bucket")).agg(
          sum(when(col("isref"), 1L).otherwise(0L)).as("n_ref"),
          sum(when(!col("isref"), 1L).otherwise(0L)).as("n_cur"))
        val tot = agg.agg(sum(col("n_ref")).as("t_ref"), sum(col("n_cur")).as("t_cur"))
        agg.crossJoin(broadcast(tot))
          .select(col("bucket"), col("n_ref"), col("n_cur"),
            when(col("n_ref") > 0 && col("n_cur") > 0,
              round(
                (col("n_ref").cast("double") / col("t_ref") -
                  col("n_cur").cast("double") / col("t_cur")) *
                log((col("n_ref").cast("double") / col("t_ref")) /
                  (col("n_cur").cast("double") / col("t_cur"))), 6))
              .as("psi_term"))
      },
      Some("""
        WITH o AS (
          SELECT LEAST(CAST(floor(o_totalprice / 20000) AS BIGINT), 9) AS bucket,
                 o_orderkey % 2 = 0 AS isref
          FROM orders),
        a AS (SELECT bucket,
                CAST(SUM(CASE WHEN isref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
                CAST(SUM(CASE WHEN NOT isref THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
              FROM o GROUP BY 1),
        t AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS t_ref,
                     CAST(SUM(n_cur) AS BIGINT) AS t_cur FROM a)
        SELECT bucket, n_ref, n_cur,
               CASE WHEN n_ref > 0 AND n_cur > 0 THEN
                 round((CAST(n_ref AS DOUBLE) / t_ref - CAST(n_cur AS DOUBLE) / t_cur) *
                       ln((CAST(n_ref AS DOUBLE) / t_ref) /
                          (CAST(n_cur AS DOUBLE) / t_cur)), 6)
               END AS psi_term
        FROM a, t""")),

    QueryDef(
      "text_winnowing",
      // MOSS winnowing fingerprints (k=8-char grams, window w=4, rightmost
      // minimal hash per window) — the guaranteed-recall local
      // fingerprinting scheme for code/plagiarism-style matching: any
      // shared substring of length ≥ k+w−1 yields a shared (pos-free)
      // fingerprint, at ~2/(w+1) selection density. See
      // TextAnalysis.winnowingFingerprints for the packed-key min trick
      // that makes the tie-break a plain window MIN in both engines.
      (s, dir) => TextAnalysis.winnowingFingerprints(
        Tables.documents(s, dir).filter(col("doc_id") % 5 === 0),
        "text", "doc_id", k = 8, w = 4),
      Some(s"""
        WITH $WinnowCtes
        SELECT doc_id,
               CAST(999999999 - CAST(substr(mn, 16, 9) AS BIGINT) AS BIGINT) AS pos,
               ${OracleSql.hex15ToInt("substr(mn, 1, 15)")} AS fp
        FROM u""")),

    QueryDef(
      "dedup_winnow_pairs",
      // the MOSS decision step: documents sharing ≥ 2 distinct winnowing
      // fingerprints, via an inverted-index join on fp with ubiquitous
      // fingerprints (df > 10) dropped first — both the common-code rule
      // and the quadratic-bucket guard. Same sample as text_winnowing.
      (s, dir) => Dedup.winnowPairs(
        Tables.documents(s, dir).filter(col("doc_id") % 5 === 0),
        "text", "doc_id", k = 8, w = 4, minShared = 2, maxDf = 10),
      Some(s"""
        WITH $WinnowCtes,
        fp AS (
          SELECT DISTINCT doc_id,
                 ${OracleSql.hex15ToInt("substr(mn, 1, 15)")} AS fp
          FROM u),
        rare AS (SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) <= 10),
        f2 AS (SELECT fp.doc_id, fp.fp FROM fp JOIN rare USING (fp))
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(COUNT(*) AS BIGINT) AS shared
        FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= 2""")),

    QueryDef(
      "dedup_winnow_eval",
      // the winnowing TRUST LOOP: score the shared-fingerprint pair set
      // (minShared=1, no df cap — the raw scheme) against exhaustive
      // ground truth "shares a common substring of length ≥ k+w−1 = 11".
      // The Schleimer–Wilkerson–Aiken guarantee says recall is EXACTLY
      // 1.0 — this gate states the paper's theorem as data; precision < 1
      // measures pairs sharing only an 8-gram (selected in both docs)
      // without an 11-char match. Evals run on a small sample by design —
      // the exhaustive truth join is the quadratic baseline.
      (s, dir) => {
        val sample = Tables.documents(s, dir).filter(col("doc_id") % 25 === 0)
        val grams = sample.filter(length(col("text")) >= 11)
          .select(col("doc_id"),
            explode(sequence(lit(1), length(col("text")) - 10)).as("i"),
            col("text").as("t"))
          .select(col("doc_id"),
            md5(expr("substring(t, i, 11)").cast("binary")).as("g"))
          .distinct()
        val truth = grams.as("a").join(grams.as("b"),
            col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .distinct()
          .withColumn("t", lit(1L))
        val pred = Dedup.winnowPairs(sample, "text", "doc_id",
            k = 8, w = 4, minShared = 1, maxDf = Long.MaxValue)
          .select(col("id_a"), col("id_b"), lit(1L).as("p"))
        truth.join(pred, Seq("id_a", "id_b"), "full_outer")
          .agg(sum(col("t")).as("n_true"), sum(col("p")).as("n_pred"),
            sum(coalesce(col("t"), lit(0L)) * coalesce(col("p"), lit(0L))).as("n_hits"))
          .select(col("n_true"), col("n_pred"), col("n_hits"),
            round(col("n_hits").cast("double") / col("n_pred"), 6).as("precision"),
            round(col("n_hits").cast("double") / col("n_true"), 6).as("recall"))
      },
      Some(s"""
        WITH ${OracleSql.winnowCtes("doc_id % 25 = 0")},
        fp AS (
          SELECT DISTINCT doc_id,
                 ${OracleSql.hex15ToInt("substr(mn, 1, 15)")} AS fp
          FROM u),
        prs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id),
        d2 AS (
          SELECT doc_id, text FROM documents
          WHERE doc_id % 25 = 0 AND length(text) >= 11),
        g2 AS (
          SELECT DISTINCT doc_id, md5(substr(text, CAST(i AS INTEGER), 11)) AS g
          FROM d2, LATERAL (SELECT unnest(generate_series(1, length(text) - 10)) AS i) t),
        truth AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM g2 a JOIN g2 b ON a.g = b.g AND a.doc_id < b.doc_id),
        c AS (SELECT
                (SELECT COUNT(*) FROM truth) AS n_true,
                (SELECT COUNT(*) FROM prs) AS n_pred,
                (SELECT COUNT(*) FROM truth JOIN prs USING (id_a, id_b)) AS n_hits)
        SELECT n_true, n_pred, n_hits,
               round(CAST(n_hits AS DOUBLE) / n_pred, 6) AS precision,
               round(CAST(n_hits AS DOUBLE) / n_true, 6) AS recall
        FROM c""")),

    QueryDef(
      "dedup_winnow_keep",
      // the winnowing family's TERMINAL step (dedup_keep's shape on
      // fingerprint evidence): shared-fingerprint pairs → connected
      // components → drop every cluster member except its min-id
      // representative. Verbatim-overlap dedup end-to-end: pairs by
      // inverted-index join, components over the tiny edge set, survivors
      // via one left-anti join.
      (s, dir) => {
        val sample = Tables.documents(s, dir).filter(col("doc_id") % 5 === 0)
        val pairs = Dedup.winnowPairs(sample, "text", "doc_id",
          k = 8, w = 4, minShared = 2, maxDf = 10)
        val clusters = Dedup.connectedComponents(pairs, "id_a", "id_b")
        Dedup.keepRepresentatives(sample, "doc_id", clusters)
          .agg(count(lit(1)).as("n_kept"),
            sum(col("doc_id")).cast("long").as("id_sum"))
      },
      Some(s"""
        WITH RECURSIVE $WinnowCtes,
        fp AS (
          SELECT DISTINCT doc_id,
                 ${OracleSql.hex15ToInt("substr(mn, 1, 15)")} AS fp
          FROM u),
        rare AS (SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) <= 10),
        f2 AS (SELECT fp.doc_id, fp.fp FROM fp JOIN rare USING (fp)),
        prs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM prs
          UNION
          SELECT id_b, id_a FROM prs),
        reach AS (
          SELECT src AS node, dst AS peer FROM edges
          UNION
          SELECT r.node, e.dst AS peer
          FROM reach r JOIN edges e ON e.src = r.peer),
        cc AS (
          SELECT node AS id, least(node, min(peer)) AS cid
          FROM reach GROUP BY node),
        dropped AS (SELECT id FROM cc WHERE id <> cid)
        SELECT COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum
        FROM documents
        WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT id FROM dropped)""")),

    QueryDef(
      "text_dup_ngram_mass",
      // corpus-scale Gopher redundancy: per-doc duplicated word-3-gram
      // character mass in exact integer ppm — the hash-verifiable gate
      // beside the (zlib, rows-only) compression-ratio signal. Explode +
      // two keyed aggregates: a pathological giant document costs
      // O(grams) distributed work, unlike the per-row scalar kernel in
      // text_repetition.
      (s, dir) => TextAnalysis.dupNgramMass(
        Tables.documents(s, dir), "text", "doc_id", n = 3),
      Some(s"""
        WITH toks AS (SELECT doc_id, $WordsSql AS words FROM documents),
        g AS (
          SELECT doc_id,
                 unnest([array_to_string(words[i:i+2], ' ')
                         for i in generate_series(1, len(words)-2)]) AS gram
          FROM toks WHERE len(words) >= 3),
        c AS (SELECT doc_id, ${hex15ToInt("md5(gram)")} AS h,
                     len(gram) AS l, COUNT(*) AS c
              FROM g GROUP BY 1, 2, 3)
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN c >= 2 THEN l * c ELSE 0 END)
                 AS BIGINT) AS dup_chars,
               CAST(SUM(l * c) AS BIGINT) AS total_chars,
               CAST(SUM(CASE WHEN c >= 2 THEN l * c ELSE 0 END)
                 * 1000000 // SUM(l * c) AS BIGINT) AS dup_ppm
        FROM c GROUP BY 1""")))

  /** The doc_id%5-sample winnowing CTE chain shared by `text_winnowing`
    * and `dedup_winnow_pairs` (see [[OracleSql.winnowCtes]]). */
  private val WinnowCtes: String = OracleSql.winnowCtes("doc_id % 5 = 0")

  /** Quality-score SQL mirror of [[TextAnalysis.qualityScore]] (shared by
    * the curation oracles). */
  private val QualityExprSql: String =
    """round(
         least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5 +
         least(CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|a|is|it|for|on)\b')) AS DOUBLE)
               / (CAST(len(regexp_extract_all(text, '[^ ]+')) AS DOUBLE) + 1.0) * 5.0, 1.0) * 0.3 +
         (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
                / (CAST(length(text) AS DOUBLE) + 1.0)) * 0.2, 6)"""

  /** Word-8-gram instance CTEs shared by the substring-span oracles:
    * `w(doc_id, ws)` and `g(doc_id, start_idx, gram)` (0-based start, docs
    * shorter than 8 words emit nothing). */
  private val SpanInstCtes: String = s"""
        w AS (SELECT doc_id, $WordsSql AS ws FROM documents),
        g AS (
          SELECT doc_id, CAST(i - 1 AS BIGINT) AS start_idx,
                 array_to_string(ws[i:i+7], ' ') AS gram
          FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 7)) AS i) t
          WHERE len(ws) >= 8)"""

  /** The gate's fixed BPE merge table: TextAnalysis.bpeTrain(documents,
    * numMerges=32) on sf0.01 (deterministic — ordered word table,
    * lexicographic tie-breaks; R5OperatorsSpec pins it to the trainer's
    * output, so regenerate it from that spec's `bpeTrain` call). Static so
    * the Spark query and the DuckDB oracle share one artifact. */
  private[graft] val GateBpeMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"), ("m", "er"),
    ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"), ("j", "o"), ("jo", "in"),
    ("a", "s"), ("as", "h"), ("h", "ash"), ("r", "ow"), ("at", "c"),
    ("atc", "h"), ("b", "atch"), ("a", "n"), ("c", "an"), ("s", "can"),
    ("c", "o"), ("c", "u"), ("co", "lu"), ("colu", "m"), ("colum", "n"),
    ("cu", "st"), ("cust", "o"), ("custo", "mer"), ("f", "i"), ("fi", "l"))

  /** One-line DuckDB expression: BPE piece string of word `w` under
    * [[GateBpeMerges]] — chars double-space-separated, each merge one
    * global replace in rank order (exactly [[graft.functions.BpeEncoder]]'s
    * left-to-right non-overlapping scan). */
  private lazy val BpeFoldSql: String =
    GateBpeMerges.foldLeft("' ' || rtrim(regexp_replace(w, '(.)', '\\1  ', 'g')) || ' '") {
      case (acc, (a, b)) => s"replace($acc, ' $a  $b ', ' $a$b ')"
    }
}
