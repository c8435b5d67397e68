package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.llm.{MinHash, Multimodal, SimHash, Similarity, TextAnalysis}
import graft.operators.LinkRank

/** Training-data-pipeline operators over the `documents` and `embeddings`
  * tables (SQL-expressible subset; the LSH/MinHash/ANN scale paths live in
  * `graft.llm` with ScalaTest coverage and rows-only registration).
  *
  * Scale notes: exact dedup is a hash-groupBy on a 64-hex digest (one
  * shuffle, partial-aggregatable); text stats are pure per-row expressions
  * fused into the scan; none of these collect to the driver.
  */
object LlmQueries {

  /** Exact dedup via content hash (sha2 groupBy) — the baseline dedup every
    * 100 TB text pipeline starts with. */
  val exactDedup: Reg = Reg.sql(
    "llm_exact_dedup",
    """SELECT lang, COUNT(*) AS cnt,
      |       COUNT(DISTINCT sha256(text)) AS distinct_docs,
      |       COUNT(*) - COUNT(DISTINCT sha256(text)) AS dup_cnt
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("lang"), sha2(col("text"), 256).as("h"))
      .groupBy("lang")
      .agg(count(lit(1)).as("cnt"),
        countDistinct(col("h")).as("distinct_docs"),
        (count(lit(1)) - countDistinct(col("h"))).as("dup_cnt"))
      .orderBy("lang")
  }

  /** Token counting + length stats per language (whitespace tokenizer). */
  val textStats: Reg = Reg.sql(
    "llm_text_stats",
    """WITH t AS (
      |  SELECT lang, n_chars, LEN(STRING_SPLIT(text, ' ')) AS wc
      |  FROM documents)
      |SELECT lang, COUNT(*) AS cnt,
      |       ROUND(AVG(wc), 4) AS avg_words,
      |       MIN(wc) AS min_words, MAX(wc) AS max_words,
      |       ROUND(AVG(n_chars), 4) AS avg_chars
      |FROM t GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("lang"), col("n_chars"),
        size(split(col("text"), " ", -1)).cast("bigint").as("wc"))
      .groupBy("lang")
      .agg(count(lit(1)).as("cnt"),
        round(avg("wc"), 4).as("avg_words"),
        min("wc").as("min_words"), max("wc").as("max_words"),
        round(avg("n_chars"), 4).as("avg_chars"))
      .orderBy("lang")
  }

  /** Quality scoring: length factor + stopword-ratio factor, clamped to [0,1]
    * (the standard pretraining-corpus heuristic family). */
  val qualityScore: Reg = Reg.sql(
    "llm_quality_score",
    """WITH t AS (
      |  SELECT source,
      |         LEN(STRING_SPLIT(text, ' ')) AS wc,
      |         LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
      |                         w -> w IN ('the', 'a', 'of', 'and'))) AS stop_cnt,
      |         n_chars
      |  FROM documents),
      |sc AS (
      |  SELECT source,
      |         LEAST(1.0, 0.3 + 0.4 * LEAST(n_chars / 500.0, 1.0)
      |                  + 0.3 * LEAST(5.0 * stop_cnt / wc, 1.0)) AS score
      |  FROM t WHERE wc > 0)
      |SELECT source, COUNT(*) AS cnt, ROUND(AVG(score), 4) AS avg_score
      |FROM sc GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    val words = split(col("text"), " ", -1)
    val stopCnt = size(filter(words,
      w => w === "the" || w === "a" || w === "of" || w === "and"))
    val score = least(lit(1.0),
      lit(0.3) + lit(0.4) * least(col("n_chars") / 500.0, lit(1.0)) +
        lit(0.3) * least(lit(5.0) * stopCnt / size(words), lit(1.0)))
    Tables.documents(s, dir)
      .select(col("source"), size(words).as("wc"), score.as("score"))
      .where(col("wc") > 0)
      .groupBy("source")
      .agg(count(lit(1)).as("cnt"), round(avg("score"), 4).as("avg_score"))
      .orderBy("source")
  }

  /** Language-ID by marker-token heuristic, cross-tabbed against the labeled
    * lang column (n-gram/marker heuristic family; deterministic). */
  val langIdHeuristic: Reg = Reg.sql(
    "llm_langid_heuristic",
    """WITH p AS (
      |  SELECT lang,
      |         CASE WHEN text LIKE '%the%' THEN 'en'
      |              WHEN text LIKE '%data%' THEN 'dataish'
      |              ELSE 'unk' END AS pred_lang
      |  FROM documents)
      |SELECT lang, pred_lang, COUNT(*) AS cnt
      |FROM p GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("lang"),
        when(col("text").like("%the%"), "en")
          .when(col("text").like("%data%"), "dataish")
          .otherwise("unk").as("pred_lang"))
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("lang", "pred_lang")
  }

  /** Document fingerprinting: stable 64-bit-ish content fingerprint (prefix
    * of the content hash) — join-key shape for incremental dedup. */
  val fingerprint: Reg = Reg.sql(
    "llm_fingerprint",
    """SELECT doc_id, SUBSTRING(sha256(text), 1, 16) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), substring(sha2(col("text"), 256), 1, 16).as("fp"))
      .orderBy("doc_id")
  }

  /** Exact cosine top-3 per query vector — the ANN correctness baseline,
    * fully oracled (both sides compute in double; round(6) absorbs the
    * accumulation-order ulp). */
  val annBrute: Reg = Reg.sql(
    "llm_ann_brute",
    """WITH q AS (
      |  SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb
      |  FROM embeddings WHERE vec_id < 3),
      |c AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
      |SELECT q_id, vec_id, round(list_cosine_similarity(emb, q_emb), 6) AS cosine, rank
      |FROM (
      |  SELECT q_id, vec_id, list_cosine_similarity(emb, q_emb) AS cs,
      |         list_cosine_similarity(emb, q_emb) AS raw,
      |         ROW_NUMBER() OVER (PARTITION BY q_id
      |           ORDER BY list_cosine_similarity(emb, q_emb) DESC, vec_id) AS rank,
      |         emb, q_emb
      |  FROM c, q WHERE vec_id <> q_id)
      |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 3), k = 3)
      .select(col("q_id"), col("vec_id"), round(col("cosine"), 6).as("cosine"), col("rank"))
      .orderBy("q_id", "rank")
  }

  /** Planted-corpus text builder: per documents row, a 20-word document in
    * its own word namespace (`w<id>_k`), so distinct ids share ZERO shingles.
    * Variants plant known duplicate structure on top (see minhashNearDup). */
  private def plantedWords = concat_ws(" ",
    transform(sequence(lit(0), lit(19)),
      k => format_string("w%d_%d", col("doc_id"), k)))

  /** MinHash-LSH near-dup on a planted corpus, FULLY oracled.
    *
    * Corpus (scales with the documents table, so bench still measures the
    * real pipeline): every doc gets a namespaced 20-word text; every 3rd id
    * also plants a near-dup partner (+1 appended word → shingle Jaccard
    * exactly 18/19 ≈ 0.947) and every 7th an exact copy (J = 1). All other
    * pairs share zero shingles. DuckDB states the expected pair list with
    * exact Jaccard values by pure arithmetic — so this checks LSH recall
    * (every planted pair must surface as a candidate), verification math,
    * and that no false pair leaks, as a value hash. Hash family is
    * deterministic, so recall here is a reproducible fact, not a
    * probability (verified at sf0.01 and sf0.1). */
  val minhashNearDup: Reg = Reg.sql(
    "llm_minhash_neardup",
    """WITH ids AS (SELECT doc_id FROM documents),
      |pairs AS (
      |  SELECT doc_id AS id_a, doc_id + 10000000 AS id_b,
      |         ROUND(CAST(18 AS DOUBLE) / CAST(19 AS DOUBLE), 4) AS jaccard
      |  FROM ids WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id, doc_id + 20000000, CAST(1.0 AS DOUBLE)
      |  FROM ids WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 10000000, doc_id + 20000000,
      |         ROUND(CAST(18 AS DOUBLE) / CAST(19 AS DOUBLE), 4)
      |  FROM ids WHERE doc_id % 21 = 0)
      |SELECT id_a, id_b, jaccard FROM pairs ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    val base = Tables.documents(s, dir).select(col("doc_id"), plantedWords.as("text"))
    val near = base.where(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        concat(col("text"), format_string(" x%d", col("doc_id"))).as("text"))
    val exact = base.where(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
    val corpus = base.unionByName(near).unionByName(exact)
    MinHash.nearDuplicates(corpus, "doc_id", "text")
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("id_a", "id_b")
  }

  /** SimHash near-dup on the planted corpus, FULLY oracled: only exact
    * copies are planted (hamming 0, found by every band), namespaced words
    * keep unrelated signatures far apart in Hamming space (verified at
    * sf0.01/sf0.1 — deterministic hash family). */
  val simhashNearDup: Reg = Reg.sql(
    "llm_simhash_neardup",
    """SELECT doc_id AS id_a, doc_id + 20000000 AS id_b, CAST(0 AS INT) AS hamming
      |FROM documents WHERE doc_id % 7 = 0 ORDER BY id_a""".stripMargin) { (s, dir) =>
    val base = Tables.documents(s, dir).select(col("doc_id"), plantedWords.as("text"))
    val exact = base.where(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
    SimHash.nearDuplicates(base.unionByName(exact), "doc_id", "text", maxHamming = 3)
      .orderBy("id_a", "id_b")
  }

  /** LSH-bucketed ANN on a planted corpus, FULLY oracled.
    *
    * Each query vector (vec_id < 10) gets three planted copies scaled by
    * 2/4/8 mixed into the real corpus. Binary-float scaling by a power of
    * two is EXACT, so each copy shares every random-hyperplane bucket with
    * its query (projection signs scale, candidates guaranteed in all 16
    * tables) and all three compute the IDENTICAL raw cosine (the arithmetic
    * cancels the scale bit-for-bit) — strictly above every natural cosine —
    * so the top-3 is exactly the planted ids in vec_id order. DuckDB states
    * that result outright; the query gates LSH bucketing, candidate
    * generation, re-rank, and tie-breaking as a value hash while the corpus
    * scan stays realistic for bench. */
  val annLsh: Reg = Reg.sql(
    "llm_ann_lsh",
    """SELECT q.vec_id AS q_id,
      |       q.vec_id + 10000000 * s.r AS vec_id,
      |       CAST(1.0 AS DOUBLE) AS cosine,
      |       s.r AS rank
      |FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q,
      |     (VALUES (1), (2), (3)) s(r)
      |ORDER BY q_id, rank""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val queries = emb.where(col("vec_id") < 10)
    val planted = queries
      .select(col("vec_id"), col("embedding"),
        explode(array(lit(1), lit(2), lit(3))).as("r"))
      .select(
        (col("vec_id") + lit(10000000L) * col("r")).as("vec_id"),
        // scale 2^r: exact in float, so buckets and raw cosine are identical
        transform(col("embedding"),
          x => (x * pow(lit(2.0), col("r"))).cast("float")).as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(planted)
    Similarity.lshTopK(corpus, queries, k = 3, tables = 16, bits = 4)
      .select(col("q_id"), col("vec_id"),
        round(col("cosine"), 6).as("cosine"), col("rank"))
      .orderBy("q_id", "rank")
  }

  /** IVF-bucketed ANN on the same planted corpus as `llm_ann_lsh`, FULLY
    * oracled. Power-of-two copies L2-normalize to the BIT-IDENTICAL unit
    * vector as their query (float division by an exactly-doubled norm), so
    * the coarse quantizer assigns copy and query the same cell no matter
    * where k-means converges — each query's nprobe probe always contains
    * its own cell, so recall of the planted top-3 is structural, not
    * probabilistic, and the oracle can state it outright (raw cosines all
    * reduce to fl(d/fl(√d·√d)) = 1 ± 1 ulp → round(,6) = 1.0). */
  val annIvf: Reg = Reg.sql(
    "llm_ann_ivf",
    """SELECT q.vec_id AS q_id,
      |       q.vec_id + 10000000 * s.r AS vec_id,
      |       CAST(1.0 AS DOUBLE) AS cosine,
      |       s.r AS rank
      |FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q,
      |     (VALUES (1), (2), (3)) s(r)
      |ORDER BY q_id, rank""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val queries = emb.where(col("vec_id") < 10)
    val planted = queries
      .select(col("vec_id"), col("embedding"),
        explode(array(lit(1), lit(2), lit(3))).as("r"))
      .select(
        (col("vec_id") + lit(10000000L) * col("r")).as("vec_id"),
        transform(col("embedding"),
          x => (x * pow(lit(2.0), col("r"))).cast("float")).as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(planted)
    Similarity.ivfTopK(corpus, queries, k = 3, nlist = 16, nprobe = 4)
      .select(col("q_id"), col("vec_id"),
        round(col("cosine"), 6).as("cosine"), col("rank"))
      .orderBy("q_id", "rank")
  }

  /** Embedding-cosine near-dup on a planted corpus, FULLY oracled: every
    * 4th vector plants a ×2 copy, every 6th a ×4 copy (pairs at raw cosine
    * exactly 1 ± 1 ulp, sharing every LSH bucket with their original by
    * sign invariance under positive scaling), while the strongest NATURAL
    * pair in the driver's gaussian embeddings sits at cosine ≈ 0.60
    * (measured at sf0.01 and sf0.1) — far under the 0.95 threshold, so the
    * expected pair list is pure arithmetic: (id, id+10M) for id%4=0,
    * (id, id+20M) for id%6=0, and the copy-copy pair (id+10M, id+20M) when
    * both plant (id%12=0). */
  val embedNearDup: Reg = Reg.sql(
    "llm_embed_neardup",
    """WITH ids AS (SELECT vec_id FROM embeddings),
      |pairs AS (
      |  SELECT vec_id AS id_a, vec_id + 10000000 AS id_b
      |  FROM ids WHERE vec_id % 4 = 0
      |  UNION ALL
      |  SELECT vec_id, vec_id + 20000000 FROM ids WHERE vec_id % 6 = 0
      |  UNION ALL
      |  SELECT vec_id + 10000000, vec_id + 20000000
      |  FROM ids WHERE vec_id % 12 = 0)
      |SELECT id_a, id_b, CAST(1.0 AS DOUBLE) AS cosine
      |FROM pairs ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    def scaledCopies(mod: Int, offset: Long, pow2: Double) =
      emb.where(col("vec_id") % mod === 0)
        .select((col("vec_id") + offset).as("vec_id"),
          transform(col("embedding"), x => (x * pow2).cast("float")).as("embedding"))
    val corpus = emb
      .unionByName(scaledCopies(4, 10000000L, 2.0))
      .unionByName(scaledCopies(6, 20000000L, 4.0))
    Similarity.embeddingNearDup(corpus, threshold = 0.95)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      .orderBy("id_a", "id_b")
  }

  /** SemDeDup cluster-scoped semantic dedup on a planted corpus, FULLY
    * oracled: every 5th vector plants a ×2 copy (+10M), every 10th also a
    * ×4 copy (+20M) — a three-member semantic group whose LOWEST id must be
    * the kept representative. Power-of-two scaling normalizes to the
    * bit-identical unit vector, so a copy always shares its original's
    * quantizer cell (the within-cluster comparison is guaranteed to see the
    * pair), and raw cosine is 1 ± 1 ulp ≥ 0.95 while the strongest NATURAL
    * pair sits at ≈ 0.60 (measured at sf0.01 and sf0.1) — the dropped set
    * is therefore pure arithmetic DuckDB states exactly. */
  val semanticDedup: Reg = Reg.sql(
    "llm_semantic_dedup",
    """WITH dropped AS (
      |  SELECT vec_id + 10000000 AS vec_id, 'x2' AS band
      |  FROM embeddings WHERE vec_id % 5 = 0
      |  UNION ALL
      |  SELECT vec_id + 20000000, 'x4' FROM embeddings WHERE vec_id % 10 = 0)
      |SELECT vec_id, band FROM dropped ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    def scaledCopies(mod: Int, offset: Long, pow2: Double) =
      emb.where(col("vec_id") % mod === 0)
        .select((col("vec_id") + offset).as("vec_id"),
          transform(col("embedding"), x => (x * pow2).cast("float")).as("embedding"))
    val corpus = emb
      .unionByName(scaledCopies(5, 10000000L, 2.0))
      .unionByName(scaledCopies(10, 20000000L, 4.0))
    Similarity.semanticDuplicates(corpus, threshold = 0.95)
      .select(col("vec_id"),
        when(col("vec_id") >= 20000000L, "x4").otherwise("x2").as("band"))
      .orderBy("vec_id")
  }

  /** Boilerplate-prefix detection: documents sharing their first 10 tokens
    * (news-wire headers, scraped templates) grouped and counted — the
    * prefix-dup pass of a pretraining pipeline. FULLY oracled: the group
    * key is the literal lowercased 10-token prefix (both engines state the
    * same split/slice/join), with `TextAnalysis.prefixFingerprint` as the
    * compact 64-bit join-key form for the at-scale variant (hash grouping
    * is one shuffle on 8-byte keys instead of strings; the string form here
    * keeps the oracle exact with no hash-collision caveat). */
  val prefixDedup: Reg = Reg.sql(
    "llm_prefix_dedup",
    """WITH p AS (
      |  SELECT doc_id,
      |         array_to_string(string_split_regex(lower(text), '\s+')[1:10], ' ')
      |           AS prefix
      |  FROM documents)
      |SELECT prefix, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       MIN(doc_id) AS keeper
      |FROM p GROUP BY prefix HAVING COUNT(*) >= 2
      |ORDER BY prefix""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        concat_ws(" ", slice(split(lower(col("text")), "\\s+"), 1, 10)).as("prefix"))
      .groupBy("prefix")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keeper"))
      .where(col("n_docs") >= 2)
      .orderBy("prefix")
  }

  /** Benchmark decontamination: flag training documents sharing any
    * 8-token n-gram with the held-out eval set (every 50th doc stands in
    * for the benchmark) — the standard pre-training hygiene pass (the
    * GPT-3/PaLM papers decontaminate exactly this way: high-order n-gram
    * collision against eval sets). FULLY oracled: both engines state the
    * same lowercased token 8-grams and the same (train, eval, shared-gram)
    * counting.
    *
    * 100 TB shape: the eval side is small BY CONSTRUCTION, not just by
    * convention — a benchmark suite is a fixed artifact (KBs–MBs), so the
    * eval slice here is capped at a constant id bound (doc_id < 3200, ≤64
    * docs at ANY scale factor) and its distinct gram set is therefore a
    * genuinely dimension-bounded broadcast. The train side explodes to
    * grams once and the match is a broadcast hash join on the gram string,
    * no shuffle of the corpus. Docs ≥ the cap with doc_id % 50 = 0 belong
    * to neither side (they are "future benchmark" rows), which is exactly
    * how a real fixed eval suite behaves as the corpus grows. */
  val decontaminate: Reg = Reg.sql(
    "llm_decontaminate",
    """WITH base AS (SELECT doc_id, lower(text) AS lt FROM documents),
      |snip AS (
      |  SELECT doc_id AS snip_id,
      |         array_to_string(string_split_regex(lt, '\s+')[1:8], ' ') AS snippet
      |  FROM base WHERE doc_id % 50 = 0 AND doc_id < 500),
      |aug AS (
      |  SELECT b.doc_id,
      |         CASE WHEN b.doc_id % 9 = 1 AND s.snippet IS NOT NULL
      |              THEN b.lt || ' ' || s.snippet ELSE b.lt END AS lt
      |  FROM base b LEFT JOIN snip s ON s.snip_id = (b.doc_id % 10) * 50),
      |toks AS (SELECT doc_id, string_split_regex(lt, '\s+') AS ws FROM aug),
      |grams AS (
      |  SELECT doc_id, unnest(
      |    CASE WHEN len(ws) >= 8 THEN
      |      list_transform(range(1, len(ws) - 8 + 2),
      |                     i -> array_to_string(ws[i:i+7], ' '))
      |    ELSE [] END) AS gram
      |  FROM toks),
      |eval_g AS (
      |  SELECT DISTINCT doc_id AS eval_id, gram FROM grams
      |  WHERE doc_id % 50 = 0 AND doc_id < 3200),
      |train_g AS (
      |  SELECT DISTINCT doc_id, gram FROM grams WHERE doc_id % 50 <> 0)
      |SELECT t.doc_id, e.eval_id,
      |       CAST(COUNT(*) AS BIGINT) AS shared_8grams
      |FROM train_g t JOIN eval_g e USING (gram)
      |GROUP BY t.doc_id, e.eval_id
      |ORDER BY t.doc_id, e.eval_id""".stripMargin) { (s, dir) =>
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), lower(col("text")).as("lt"))
    // Planted contamination: train docs with id % 9 = 1 absorb the first
    // 8 tokens of one eval doc, so flagged (train, eval) pairs exist by
    // construction at every SF — on top of any natural collisions. Both
    // engines state the identical augmentation, so the pair list stays an
    // exact oracle.
    // The contamination join key is (doc_id % 10) * 50 ∈ {0..450}, so the
    // snippet side needs only doc_id < 500 — bounding it keeps the result
    // identical at every SF while making the broadcast constant-sized.
    val snip = base.where(col("doc_id") % 50 === 0 && col("doc_id") < 500)
      .select(col("doc_id").as("snip_id"),
        concat_ws(" ", slice(split(col("lt"), "\\s+"), 1, 8)).as("snippet"))
    val aug = base
      .join(broadcast(snip), col("snip_id") === (col("doc_id") % 10) * 50, "left")
      .select(col("doc_id"),
        when(col("doc_id") % 9 === 1 && col("snippet").isNotNull,
          concat(col("lt"), lit(" "), col("snippet")))
          .otherwise(col("lt")).as("lt"))
    val grams = aug
      .select(col("doc_id"), split(col("lt"), "\\s+").as("ws"))
      .select(col("doc_id"), explode(
        when(size(col("ws")) >= 8,
          transform(sequence(lit(1), size(col("ws")) - 8 + 1),
            i => concat_ws(" ", slice(col("ws"), i, lit(8)))))
          .otherwise(array().cast("array<string>"))).as("gram"))
    // Fixed-size eval suite: constant id cap (≤64 docs at any SF) makes
    // this broadcast dimension-bounded — PlanAuditSpec enforces that every
    // explicit broadcast() bottoms out in a dim table or a constant bound.
    val evalG = broadcast(
      grams.where(col("doc_id") % 50 === 0 && col("doc_id") < 3200)
        .select(col("doc_id").as("eval_id"), col("gram")).distinct())
    // Train-side dedup happens AFTER the broadcast join: the oracle's
    // "distinct train grams" then count ≡ count(DISTINCT gram) per
    // (train, eval) pair, and joining first means the map-side broadcast
    // probe discards every non-colliding gram — no corpus-gram-sized
    // distinct shuffle; only the (tiny) collision set ever exchanges.
    grams.where(col("doc_id") % 50 =!= 0)
      .join(evalG, "gram")
      .groupBy("doc_id", "eval_id")
      .agg(countDistinct(col("gram")).as("shared_8grams"))
      .orderBy("doc_id", "eval_id")
  }

  /** Multimodal plumbing end to end on a synthetic binary corpus, FULLY
    * oracled: the corpus is pure arithmetic (asset i has len = 64 + i%192
    * bytes, modality = i%3, every asset ≥ 4 bytes so `valid` always holds
    * and every asset emits one feature row), so DuckDB can state the
    * per-modality aggregate from `range(300)` without touching the stubbed
    * byte content. The decode itself stays a documented stub (no media libs
    * in env); what this gates is the distribution plumbing — mapPartitions
    * decode/extract, the groupBy reductions, and the metadata join. */
  val multimodal: Reg = Reg.sql(
    "llm_multimodal_pipeline",
    """SELECT CASE WHEN i % 3 = 0 THEN 'image'
      |            WHEN i % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
      |       CAST(COUNT(*) AS BIGINT) AS cnt,
      |       CAST(COUNT(*) AS BIGINT) AS valid_cnt,
      |       ROUND(AVG(64 + i % 192), 2) AS avg_bytes,
      |       CAST(COUNT(*) AS BIGINT) AS feature_rows
      |FROM (SELECT range AS i FROM range(300))
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val assets = Multimodal.syntheticAssets(s, 300)
    val meta = Multimodal.decodeAll(s, assets).toDF()
    val feats = Multimodal.extractFeatures(s, assets).toDF()
    meta.groupBy("modality")
      .agg(count(lit(1)).as("cnt"), sum(when(col("valid"), 1).otherwise(0)).as("valid_cnt"),
        round(avg("sizeBytes"), 2).as("avg_bytes"))
      .join(feats.groupBy("modality").agg(count(lit(1)).as("feature_rows")), "modality")
      .orderBy("modality")
  }

  /** Token-count estimate (BPE-ish heuristic) per language — fully oracled:
    * Java \p{Punct} and RE2 [[:punct:]] denote the same ASCII set, and the
    * per-word long-word fragments sum identically. */
  val tokenEstimate: Reg = Reg.sql(
    "llm_token_estimate",
    """WITH t AS (
      |  SELECT lang,
      |         len(string_split_regex(text, '\s+')) +
      |         (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))) +
      |         list_sum(list_transform(string_split_regex(text, '\s+'),
      |            w -> greatest(0, (length(w) - 4) // 4))) AS est,
      |         len(string_split(text, ' ')) AS wc
      |  FROM documents)
      |SELECT lang, COUNT(*) AS cnt, ROUND(AVG(est), 4) AS avg_est_tokens,
      |       ROUND(AVG(wc), 4) AS avg_ws_tokens
      |FROM t GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("lang"), TextAnalysis.tokenEstimate(col("text")).as("est"),
        TextAnalysis.tokenCount(col("text")).as("wc"))
      .groupBy("lang")
      .agg(count(lit(1)).as("cnt"), round(avg("est"), 4).as("avg_est_tokens"),
        round(avg("wc"), 4).as("avg_ws_tokens"))
      .orderBy("lang")
  }

  /** Exact token-set Jaccard over consecutive-doc pairs — the unigram case
    * of the n-gram Jaccard family (the 3-gram shingle form backs the MinHash
    * verifier, pinned in DedupSpec), fully oracled: Spark array set ops and
    * DuckDB list ops agree exactly. */
  val ngramJaccard: Reg = Reg.sql(
    "llm_token_jaccard",
    """WITH sh AS (
      |  SELECT doc_id,
      |         list_distinct(string_split_regex(lower(text), '\s+')) AS toks
      |  FROM documents)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |       ROUND(len(list_intersect(a.toks, b.toks))::DOUBLE /
      |             len(list_distinct(list_concat(a.toks, b.toks)))::DOUBLE, 6) AS jaccard
      |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
      |ORDER BY id_a""".stripMargin) { (s, dir) =>
    val toks = Tables.documents(s, dir).select(col("doc_id"),
      array_distinct(split(lower(col("text")), "\\s+")).as("toks"))
    val a = toks.select(col("doc_id").as("id_a"), col("toks").as("toks_a"))
    val b = toks.select(col("doc_id").as("id_b"), col("toks").as("toks_b"))
    a.join(b, col("id_b") === col("id_a") + 1)
      .select(col("id_a"), col("id_b"),
        round(size(array_intersect(col("toks_a"), col("toks_b"))).cast("double") /
          size(array_union(col("toks_a"), col("toks_b"))).cast("double"), 6).as("jaccard"))
      .orderBy("id_a")
  }

  /** CURRICULUM ordering — the data-ORDER op of a training pipeline:
    * documents are banded by a closed-form difficulty proxy (length band
    * = min(9, n_chars div 100) — a scale-free banding, deliberately not a
    * rank decile, which would need a corpus-wide single-partition window)
    * and shuffled WITHIN each band by a deterministic per-epoch hash
    * (md5 of doc_id:epoch — both engines produce identical hex), so each
    * epoch sees bands easy→hard with a different but reproducible
    * within-band permutation. Emitted: the first 8 docs of every
    * (epoch, band) — per-group windows compile to WindowGroupLimit, so
    * the corpus is pruned to k per group map-side, never globally
    * sorted. */
  val curriculumOrder: Reg = Reg.sql(
    "llm_curriculum_order",
    """WITH b AS (
      |  SELECT doc_id, LEAST(9, n_chars // 100) AS band FROM documents),
      |e AS (SELECT b.*, ep.epoch
      |      FROM b, (VALUES (0), (1)) ep(epoch)),
      |r AS (SELECT epoch, band, doc_id,
      |             ROW_NUMBER() OVER (PARTITION BY epoch, band
      |               ORDER BY md5(doc_id || ':' || epoch), doc_id) AS rnk
      |      FROM e)
      |SELECT CAST(epoch AS BIGINT) AS epoch, CAST(band AS BIGINT) AS band,
      |       CAST(rnk AS BIGINT) AS rnk, doc_id
      |FROM r WHERE rnk <= 8 ORDER BY epoch, band, rnk""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      val b = Tables.documents(s, dir).select(col("doc_id"),
        least(lit(9L), expr("n_chars div 100")).as("band"))
      val epochs = Seq(0, 1).toDF("epoch")
      val e = b.crossJoin(epochs) // 2-row frame: broadcast by construction
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("epoch", "band")
        .orderBy(md5(concat(col("doc_id"), lit(":"), col("epoch"))),
          col("doc_id"))
      e.withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 8)
        .select(col("epoch").cast("bigint"), col("band").cast("bigint"),
          col("rnk").cast("bigint"), col("doc_id"))
        .orderBy("epoch", "band", "rnk")
  }

  /** CONTAINMENT dedup — the asymmetric complement of Jaccard near-dup:
    * C(A,B) = |A∩B| / min(|A|,|B|) over distinct word 3-grams catches a
    * document CONTAINED in a longer one (quotation, expansion, scrape-of-
    * a-scrape), which symmetric Jaccard dilutes below any usable
    * threshold. Every 7th doc plants a superset twin (its text plus 2×
    * its word count of unique filler), so the gate has real pairs with
    * containment = 1.0 and Jaccard < 0.5 — invisible to the symmetric
    * family by construction.
    *
    * Shape: candidates from a RARE-gram inverted index (df ≤ 8, ≥ 3
    * shared — the winnowing/MinHash bucket discipline, never all-pairs),
    * then EXACT verification on the full distinct-gram arrays of the
    * candidate pairs only; containment and Jaccard are integer micros
    * ((x·1e6) div y). Fully oracled: DuckDB restates index, cap, and
    * verify on the same augmented corpus. */
  val containmentDedup: Reg = Reg.sql(
    "llm_containment_dedup",
    """WITH aug AS (
      |  SELECT doc_id, lower(text) AS t FROM documents
      |  UNION ALL
      |  SELECT doc_id + 40000000,
      |         lower(text) || ' ' || array_to_string(
      |           list_transform(range(1, 2 * len(string_split_regex(text, '\s+')) + 1),
      |             j -> 'zzq' || doc_id || 'x' || j), ' ')
      |  FROM documents WHERE doc_id % 7 = 0),
      |w AS (SELECT doc_id, string_split_regex(t, '\s+') AS ws FROM aug),
      |g AS (SELECT doc_id,
      |             CASE WHEN len(ws) >= 3 THEN
      |               list_distinct(list_transform(range(1, len(ws) - 1),
      |                 i -> array_to_string(ws[i:i+2], ' ')))
      |             ELSE [] END AS grams
      |      FROM w),
      |ex AS (SELECT doc_id, unnest(grams) AS gram FROM g),
      |-- (doc, gram) rows are unique (per-doc gram sets are distinct), so
      |-- COUNT(*) is the document frequency; df = 1 grams are excluded
      |-- because a gram in ONE document can never be shared by a pair —
      |-- same candidates, and the posting index drops its unique-content
      |-- bulk (the dominant mass on a distinct-content corpus)
      |rare AS (SELECT gram FROM ex GROUP BY gram
      |         HAVING COUNT(*) BETWEEN 2 AND 4),
      |fx AS (SELECT ex.doc_id, ex.gram FROM ex JOIN rare USING (gram)),
      |cand AS (
      |  -- (doc, gram) rows are unique (per-doc gram sets are distinct), so
      |  -- plain COUNT(*) equals COUNT(DISTINCT gram) without the dedup pass
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM fx a JOIN fx b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 5),
      |ver AS (
      |  SELECT c.id_a, c.id_b,
      |         len(list_intersect(ga.grams, gb.grams)) AS inter,
      |         len(ga.grams) AS na, len(gb.grams) AS nb
      |  FROM cand c
      |  JOIN g ga ON ga.doc_id = c.id_a
      |  JOIN g gb ON gb.doc_id = c.id_b)
      |SELECT id_a, id_b,
      |       (inter * 1000000) // LEAST(na, nb) AS containment_micro,
      |       (inter * 1000000) // (na + nb - inter) AS jaccard_micro
      |FROM ver
      |WHERE (inter * 1000000) // LEAST(na, nb) >= 900000
      |  AND (inter * 1000000) // (na + nb - inter) < 500000
      |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val aug = docs.select(col("doc_id"), lower(col("text")).as("t"))
      .unionByName(docs.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 40000000L).as("doc_id"),
          concat(lower(col("text")), lit(" "),
            array_join(expr(
              "transform(sequence(1, 2 * size(split(text, '\\\\s+'))), " +
                "j -> concat('zzq', doc_id, 'x', j))"), " ")).as("t")))
    val g = aug
      .select(col("doc_id"), split(col("t"), "\\s+").as("ws"))
      .select(col("doc_id"),
        expr("""CASE WHEN size(ws) >= 3 THEN
               |  array_distinct(transform(sequence(1, size(ws) - 2),
               |    i -> concat_ws(' ', slice(ws, i, 3))))
               |ELSE array() END""".stripMargin).as("grams"))
      // consumed by the inverted index AND both verify sides
      .localCheckpoint(false)
    val ex = g.select(col("doc_id"), explode(col("grams")).as("gram"))
    // (doc, gram) unique ⇒ count(*) IS the document frequency (no
    // distinct expansion in the aggregate); df = 1 grams are dropped —
    // a single-document gram can never be shared by a pair, so the
    // candidate set is unchanged while the posting index sheds the
    // unique-content bulk that dominates a distinct decade
    val rare = ex.groupBy("gram")
      .agg(count(lit(1)).as("nd"))
      .where(col("nd") >= 2 && col("nd") <= 4)
      .select("gram")
      .localCheckpoint(false) // size probe + postings join share the agg
    // BROADCAST the rare set when it fits (size-probed, the a33
    // pre-flight discipline): an unhinted plan shuffles the full 3.7M-
    // gram exchange before AQE can see the rare side is 8.6k rows — the
    // exchange stages launch in parallel (measured 8.7 s vs 0.2 s at the
    // extent decade, ProfileContainment; removed, last in tree at 26c49d5).
    // Past the probe bound (a dup-heavy corpus where rare grams are
    // themselves corpus-scaled) the plan falls back to the gram-keyed
    // shuffle join.
    val fx =
      if (rare.count() <= 1000000L)
        ex.join(broadcast(rare.limit(1000000)), "gram")
      else ex.join(rare, "gram")
    val cand = fx.select(col("gram"), col("doc_id").as("id_a"))
      .join(fx.select(col("gram"), col("doc_id").as("id_b")), "gram")
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      // (doc, gram) rows are unique — count(*) == countDistinct(gram)
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= 5)
      .select("id_a", "id_b")
    // verify reads the gram arrays of CANDIDATE docs only: the pair list
    // is materialized once, its id set broadcast, and the semi-join
    // prunes the corpus scan MAP-SIDE — without this the two verify
    // joins shuffle every document's gram array against a pair list
    // orders of magnitude smaller (measured 6.3 s -> 0.5 s at the extent
    // decade, ProfileContainment; removed, last in tree at 26c49d5). At
    // warehouse scale the id set is chunked if dup density pushes it past
    // broadcast size.
    val candk = cand.localCheckpoint(false)
    val ids = candk.select(col("id_a").as("doc_id"))
      .unionByName(candk.select(col("id_b").as("doc_id"))).distinct()
      .localCheckpoint(false)
    // the count probe verifies the id set fits a broadcast; the limit is
    // then a no-op that carries the HARD cardinality cap in the plan (the
    // structural witness the broadcast-hint audit checks); past the bound
    // the semi-join falls back to the shuffle form
    val gc =
      if (ids.count() <= 2000000L)
        g.join(broadcast(ids.limit(2000000)), Seq("doc_id"), "left_semi")
      else g.join(ids, Seq("doc_id"), "left_semi")
    candk
      .join(gc.select(col("doc_id").as("id_a"), col("grams").as("ga")), "id_a")
      .join(gc.select(col("doc_id").as("id_b"), col("grams").as("gb")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("ga"), col("gb"))).cast("bigint").as("inter"),
        size(col("ga")).cast("bigint").as("na"),
        size(col("gb")).cast("bigint").as("nb"))
      .select(col("id_a"), col("id_b"),
        expr("(inter * 1000000) div least(na, nb)").as("containment_micro"),
        expr("(inter * 1000000) div (na + nb - inter)").as("jaccard_micro"))
      .where(col("containment_micro") >= 900000L &&
        col("jaccard_micro") < 500000L)
      .orderBy("id_a", "id_b")
  }

  /** llm_containment_dedup's SCALE SIBLING — the next-decade path its
    * SCALING entry documents: candidate pairs come from shared WINNOW
    * FINGERPRINTS (the ~2/(w+1) sampled subset of char-gram hashes)
    * instead of the full rare-gram inverted index, shrinking the index
    * and the pair fan-out by the sampling factor, while verification
    * stays EXACT on the candidate pairs' full word-3-gram arrays — the
    * standard index-sample / verify-exact trade, and because the oracle
    * restates the identical winnowing arithmetic (the llm_winnow
    * precedent), the sampled candidate rule is itself part of the exact
    * contract, not an approximation the gate ignores. Same augmented
    * corpus and thresholds as the exact-index form, so the two results
    * measure the sampling recall directly (69/72 planted twins vs the
    * exact index's 72/72 at sf0.01).
    *
    * MEASURED trade (SCALING.md): the sampled index wins at sf0.1
    * (1.9 vs 2.3 s) but the char-level fingerprint pass is itself
    * corpus-proportional, so at the uniform-density extent decade the
    * two forms tie (~14 vs ~13 s) — sampling pays off only where the
    * PAIR stage dominates (duplication-dense corpora), exactly the
    * regime the density-replica stress in SCALING.md round 9 exhibits. */
  val containmentSampled: Reg = Reg.sql(
    "llm_containment_sampled",
    """WITH aug AS (
      |  SELECT doc_id, lower(text) AS t FROM documents
      |  UNION ALL
      |  SELECT doc_id + 40000000,
      |         lower(text) || ' ' || array_to_string(
      |           list_transform(range(1, 2 * len(string_split_regex(text, '\s+')) + 1),
      |             j -> 'zzq' || doc_id || 'x' || j), ' ')
      |  FROM documents WHERE doc_id % 7 = 0),
      |grams AS (
      |  SELECT doc_id,
      |    CASE WHEN length(t) >= 8 THEN
      |      list_transform(range(1, length(t) - 8 + 2), i ->
      |        list_reduce(list_prepend(0::BIGINT,
      |          list_transform(range(i, i + 8), p -> ord(substr(t, p, 1))::BIGINT)),
      |          (a, b) -> (a * 31 + b) % 1000000007))
      |    ELSE [] END AS g
      |  FROM aug),
      |fp AS (
      |  SELECT doc_id,
      |    CASE WHEN len(g) >= 4 THEN
      |      list_sort(list_distinct(
      |        list_transform(range(1, len(g) - 4 + 2), j -> list_min(g[j:j+3]))))
      |    ELSE [] END AS fps
      |  FROM grams),
      |ex AS (SELECT doc_id, unnest(fps) AS fp FROM fp),
      |rare AS (SELECT fp FROM ex GROUP BY fp
      |         HAVING COUNT(DISTINCT doc_id) <= 8),
      |fx AS (SELECT ex.doc_id, ex.fp FROM ex JOIN rare USING (fp)),
      |cand AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM fx a JOIN fx b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
      |w AS (SELECT doc_id, string_split_regex(t, '\s+') AS ws FROM aug),
      |wg AS (SELECT doc_id,
      |              CASE WHEN len(ws) >= 3 THEN
      |                list_distinct(list_transform(range(1, len(ws) - 1),
      |                  i -> array_to_string(ws[i:i+2], ' ')))
      |              ELSE [] END AS grams
      |       FROM w),
      |ver AS (
      |  SELECT c.id_a, c.id_b,
      |         len(list_intersect(ga.grams, gb.grams)) AS inter,
      |         len(ga.grams) AS na, len(gb.grams) AS nb
      |  FROM cand c
      |  JOIN wg ga ON ga.doc_id = c.id_a
      |  JOIN wg gb ON gb.doc_id = c.id_b)
      |SELECT id_a, id_b,
      |       (inter * 1000000) // LEAST(na, nb) AS containment_micro,
      |       (inter * 1000000) // (na + nb - inter) AS jaccard_micro
      |FROM ver
      |WHERE (inter * 1000000) // LEAST(na, nb) >= 900000
      |  AND (inter * 1000000) // (na + nb - inter) < 500000
      |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val aug = docs.select(col("doc_id"), lower(col("text")).as("t"))
      .unionByName(docs.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 40000000L).as("doc_id"),
          concat(lower(col("text")), lit(" "),
            array_join(expr(
              "transform(sequence(1, 2 * size(split(text, '\\\\s+'))), " +
                "j -> concat('zzq', doc_id, 'x', j))"), " ")).as("t")))
      // feeds the fingerprint index AND the word-gram verify arrays
      .localCheckpoint(false)
    val fps = aug.select(col("doc_id"),
      explode(TextAnalysis.winnow(col("t"), k = 8, w = 4)).as("fp"))
    // (doc, fp) unique => count(*) is the fingerprint df; df = 1
    // fingerprints can never be shared by a pair, and the rare set is
    // size-probed for broadcast exactly as the full branch (the fp
    // exchange otherwise shuffles before AQE sees the small side)
    val rare = fps.groupBy("fp")
      .agg(count(lit(1)).as("nd"))
      .where(col("nd") >= 2 && col("nd") <= 8)
      .select("fp")
      .localCheckpoint(false)
    val fx =
      if (rare.count() <= 1000000L)
        fps.join(broadcast(rare.limit(1000000)), "fp")
      else fps.join(rare, "fp")
    val cand = fx.select(col("fp"), col("doc_id").as("id_a"))
      .join(fx.select(col("fp"), col("doc_id").as("id_b")), "fp")
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      // (doc, fp) rows are unique (winnow emits a distinct set per doc)
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= 3)
      .select("id_a", "id_b")
    val g = aug
      .select(col("doc_id"), split(col("t"), "\\s+").as("ws"))
      .select(col("doc_id"),
        expr("""CASE WHEN size(ws) >= 3 THEN
               |  array_distinct(transform(sequence(1, size(ws) - 2),
               |    i -> concat_ws(' ', slice(ws, i, 3))))
               |ELSE array() END""".stripMargin).as("grams"))
    // verify reads the gram arrays of CANDIDATE docs only: the pair list
    // is materialized once, its id set broadcast, and the semi-join
    // prunes the corpus scan MAP-SIDE — without this the two verify
    // joins shuffle every document's gram array against a pair list
    // orders of magnitude smaller (measured 6.3 s -> 0.5 s at the extent
    // decade, ProfileContainment; removed, last in tree at 26c49d5). At
    // warehouse scale the id set is chunked if dup density pushes it past
    // broadcast size.
    val candk = cand.localCheckpoint(false)
    val ids = candk.select(col("id_a").as("doc_id"))
      .unionByName(candk.select(col("id_b").as("doc_id"))).distinct()
      .localCheckpoint(false)
    // the count probe verifies the id set fits a broadcast; the limit is
    // then a no-op that carries the HARD cardinality cap in the plan (the
    // structural witness the broadcast-hint audit checks); past the bound
    // the semi-join falls back to the shuffle form
    val gc =
      if (ids.count() <= 2000000L)
        g.join(broadcast(ids.limit(2000000)), Seq("doc_id"), "left_semi")
      else g.join(ids, Seq("doc_id"), "left_semi")
    candk
      .join(gc.select(col("doc_id").as("id_a"), col("grams").as("ga")), "id_a")
      .join(gc.select(col("doc_id").as("id_b"), col("grams").as("gb")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("ga"), col("gb"))).cast("bigint").as("inter"),
        size(col("ga")).cast("bigint").as("na"),
        size(col("gb")).cast("bigint").as("nb"))
      .select(col("id_a"), col("id_b"),
        expr("(inter * 1000000) div least(na, nb)").as("containment_micro"),
        expr("(inter * 1000000) div (na + nb - inter)").as("jaccard_micro"))
      .where(col("containment_micro") >= 900000L &&
        col("jaccard_micro") < 500000L)
      .orderBy("id_a", "id_b")
  }

  /** WORKLOAD-ADAPTIVE containment index — the chooser the two fixed
    * forms above call for (their SCALING entries show the full rare-gram
    * index winning on uniform-density corpora and the winnow-SAMPLED
    * index winning where duplication is dense): a measured PRE-FLIGHT
    * probe — rare-gram pair pressure Σ df·(df−1)/2 over the df ≤ 4
    * posting lists, per corpus doc — decides the candidate index. The
    * probe is nearly free (one aggregate over the gram index the full
    * branch needs anyway and the verify stage needs regardless), and the
    * decision is integer arithmetic the oracle RESTATES: DuckDB computes
    * the same probe, takes the same pp ≥ 3·n branch, and states that
    * branch's full result — so the chooser is oracle-green WHICHEVER way
    * it goes. On the shipped corpora it actually goes BOTH ways:
    * duplication-dense sf0.01 (pp/n ≈ 29) picks the sampled index,
    * uniform sf0.1 (pp/n ≈ 0.65) picks the full index, so both branches
    * sit under a live gate. Output rows carry the chosen path.
    *
    * Honest caveat the probe also surfaces: at sf0.1 the full rare-gram
    * index's df ≤ 4 posting cap EXHAUSTS on the template-heavy corpus
    * (every shared word-3-gram is common), so that branch's recall there
    * is zero while the sampled char-fingerprint branch still catches 40
    * planted pairs — a production chooser would probe recall on planted
    * canaries alongside cost, not cost alone. */
  val containmentAdaptive: Reg = Reg.sql(
    "llm_containment_adaptive",
    """WITH aug AS (
      |  SELECT doc_id, lower(text) AS t FROM documents
      |  UNION ALL
      |  SELECT doc_id + 40000000,
      |         lower(text) || ' ' || array_to_string(
      |           list_transform(range(1, 2 * len(string_split_regex(text, '\s+')) + 1),
      |             j -> 'zzq' || doc_id || 'x' || j), ' ')
      |  FROM documents WHERE doc_id % 7 = 0),
      |w AS (SELECT doc_id, string_split_regex(t, '\s+') AS ws FROM aug),
      |g AS (SELECT doc_id,
      |             CASE WHEN len(ws) >= 3 THEN
      |               list_distinct(list_transform(range(1, len(ws) - 1),
      |                 i -> array_to_string(ws[i:i+2], ' ')))
      |             ELSE [] END AS grams
      |      FROM w),
      |ex AS (SELECT doc_id, unnest(grams) AS gram FROM g),
      |df AS (SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM ex GROUP BY gram),
      |probe AS (SELECT COALESCE(SUM(nd * (nd - 1) // 2), 0) AS pp
      |          FROM df WHERE nd <= 4),
      |n0 AS (SELECT COUNT(*) AS n FROM aug),
      |choice AS (SELECT CASE WHEN pp >= 3 * n THEN 'sampled' ELSE 'full' END
      |             AS path FROM probe, n0),
      |fx AS (SELECT ex.doc_id, ex.gram FROM ex
      |       JOIN (SELECT gram FROM df WHERE nd <= 4) rare USING (gram)),
      |cand_f AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM fx a JOIN fx b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 5),
      |cgrams AS (
      |  SELECT doc_id,
      |    CASE WHEN length(t) >= 8 THEN
      |      list_transform(range(1, length(t) - 8 + 2), i ->
      |        list_reduce(list_prepend(0::BIGINT,
      |          list_transform(range(i, i + 8), p -> ord(substr(t, p, 1))::BIGINT)),
      |          (a, b) -> (a * 31 + b) % 1000000007))
      |    ELSE [] END AS cg
      |  FROM aug),
      |fp AS (
      |  SELECT doc_id,
      |    CASE WHEN len(cg) >= 4 THEN
      |      list_sort(list_distinct(
      |        list_transform(range(1, len(cg) - 4 + 2), j -> list_min(cg[j:j+3]))))
      |    ELSE [] END AS fps
      |  FROM cgrams),
      |ex2 AS (SELECT doc_id, unnest(fps) AS fp FROM fp),
      |rare2 AS (SELECT fp FROM ex2 GROUP BY fp
      |          HAVING COUNT(DISTINCT doc_id) <= 8),
      |fx2 AS (SELECT ex2.doc_id, ex2.fp FROM ex2 JOIN rare2 USING (fp)),
      |cand_s AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM fx2 a JOIN fx2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
      |cand AS (
      |  SELECT id_a, id_b FROM cand_f WHERE (SELECT path FROM choice) = 'full'
      |  UNION ALL
      |  SELECT id_a, id_b FROM cand_s WHERE (SELECT path FROM choice) = 'sampled'),
      |ver AS (
      |  SELECT c.id_a, c.id_b,
      |         len(list_intersect(ga.grams, gb.grams)) AS inter,
      |         len(ga.grams) AS na, len(gb.grams) AS nb
      |  FROM cand c
      |  JOIN g ga ON ga.doc_id = c.id_a
      |  JOIN g gb ON gb.doc_id = c.id_b)
      |SELECT (SELECT path FROM choice) AS path, id_a, id_b,
      |       (inter * 1000000) // LEAST(na, nb) AS containment_micro,
      |       (inter * 1000000) // (na + nb - inter) AS jaccard_micro
      |FROM ver
      |WHERE (inter * 1000000) // LEAST(na, nb) >= 900000
      |  AND (inter * 1000000) // (na + nb - inter) < 500000
      |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val aug = docs.select(col("doc_id"), lower(col("text")).as("t"))
      .unionByName(docs.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 40000000L).as("doc_id"),
          concat(lower(col("text")), lit(" "),
            array_join(expr(
              "transform(sequence(1, 2 * size(split(text, '\\\\s+'))), " +
                "j -> concat('zzq', doc_id, 'x', j))"), " ")).as("t")))
      // feeds the gram index, the probe, and (sampled branch) winnowing
      .localCheckpoint(false)
    val g = aug
      .select(col("doc_id"), split(col("t"), "\\s+").as("ws"))
      .select(col("doc_id"),
        expr("""CASE WHEN size(ws) >= 3 THEN
               |  array_distinct(transform(sequence(1, size(ws) - 2),
               |    i -> concat_ws(' ', slice(ws, i, 3))))
               |ELSE array() END""".stripMargin).as("grams"))
      .localCheckpoint(false)
    val ex = g.select(col("doc_id"), explode(col("grams")).as("gram"))
    // (doc, gram) unique => count(*) is the df (no distinct expansion)
    val df = ex.groupBy("gram").agg(count(lit(1)).as("nd"))
      // probe + (full branch) rare-gram filter both read it
      .localCheckpoint(false)
    // THE PROBE: two scalar aggregates, then a driver-side branch — the
    // a33-style pre-flight measured on the actual workload
    val pp = df.where(col("nd") <= 4)
      .agg(coalesce(sum(expr("nd * (nd - 1) div 2")), lit(0L))).head().getLong(0)
    val n = aug.count()
    val sampled = pp >= 3 * n
    val cand =
      if (!sampled) {
        val rareG = df.where(col("nd") >= 2 && col("nd") <= 4)
          .select("gram").localCheckpoint(false)
        val fx =
          if (rareG.count() <= 1000000L)
            ex.join(broadcast(rareG.limit(1000000)), "gram")
          else ex.join(rareG, "gram")
        fx.select(col("gram"), col("doc_id").as("id_a"))
          .join(fx.select(col("gram"), col("doc_id").as("id_b")), "gram")
          .where(col("id_a") < col("id_b"))
          .groupBy("id_a", "id_b")
          .agg(count(lit(1)).as("shared"))
          .where(col("shared") >= 5)
          .select("id_a", "id_b")
      } else {
        val fps = aug.select(col("doc_id"),
          explode(TextAnalysis.winnow(col("t"), k = 8, w = 4)).as("fp"))
        val rare = fps.groupBy("fp")
          .agg(count(lit(1)).as("nd")) // (doc, fp) unique => count = df
          .where(col("nd") >= 2 && col("nd") <= 8)
          .select("fp")
          .localCheckpoint(false)
        val fx =
          if (rare.count() <= 1000000L)
            fps.join(broadcast(rare.limit(1000000)), "fp")
          else fps.join(rare, "fp")
        fx.select(col("fp"), col("doc_id").as("id_a"))
          .join(fx.select(col("fp"), col("doc_id").as("id_b")), "fp")
          .where(col("id_a") < col("id_b"))
          .groupBy("id_a", "id_b")
          .agg(count(lit(1)).as("shared"))
          .where(col("shared") >= 3)
          .select("id_a", "id_b")
      }
    // verify reads the gram arrays of CANDIDATE docs only: the pair list
    // is materialized once, its id set broadcast, and the semi-join
    // prunes the corpus scan MAP-SIDE — without this the two verify
    // joins shuffle every document's gram array against a pair list
    // orders of magnitude smaller (measured 6.3 s -> 0.5 s at the extent
    // decade, ProfileContainment; removed, last in tree at 26c49d5). At
    // warehouse scale the id set is chunked if dup density pushes it past
    // broadcast size.
    val candk = cand.localCheckpoint(false)
    val ids = candk.select(col("id_a").as("doc_id"))
      .unionByName(candk.select(col("id_b").as("doc_id"))).distinct()
      .localCheckpoint(false)
    // the count probe verifies the id set fits a broadcast; the limit is
    // then a no-op that carries the HARD cardinality cap in the plan (the
    // structural witness the broadcast-hint audit checks); past the bound
    // the semi-join falls back to the shuffle form
    val gc =
      if (ids.count() <= 2000000L)
        g.join(broadcast(ids.limit(2000000)), Seq("doc_id"), "left_semi")
      else g.join(ids, Seq("doc_id"), "left_semi")
    candk
      .join(gc.select(col("doc_id").as("id_a"), col("grams").as("ga")), "id_a")
      .join(gc.select(col("doc_id").as("id_b"), col("grams").as("gb")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("ga"), col("gb"))).cast("bigint").as("inter"),
        size(col("ga")).cast("bigint").as("na"),
        size(col("gb")).cast("bigint").as("nb"))
      .select(lit(if (sampled) "sampled" else "full").as("path"),
        col("id_a"), col("id_b"),
        expr("(inter * 1000000) div least(na, nb)").as("containment_micro"),
        expr("(inter * 1000000) div (na + nb - inter)").as("jaccard_micro"))
      .where(col("containment_micro") >= 900000L &&
        col("jaccard_micro") < 500000L)
      .orderBy("id_a", "id_b")
  }

  /** Rolling-hash document fingerprinting (winnowing) near-dup, EXACTLY
    * oracled on natural data — unlike MinHash/SimHash (probabilistic →
    * planted-corpus oracles), winnowing is deterministic arithmetic both
    * engines state bit-for-bit, so the full natural-corpus pair list is the
    * gate. Stop-grams (fingerprints in > 5 docs — boilerplate phrases)
    * are dropped before pairing, the same frequent-token cap MinHash's
    * mega-bucket guard applies; pairs need ≥ 5 shared rare fingerprints.
    *
    * 100 TB shape: fingerprints are a per-row expression (~2/(w+1) of the
    * gram hashes kept); the pair search is an equi-join on fingerprint
    * value with the stop-gram cap bounding fan-out per key — no crossJoin,
    * and the frequent-fingerprint filter is one partial-agg pass. */
  val winnowNearDup: Reg = Reg.sql(
    "llm_winnow_neardup",
    """WITH grams AS (
      |  SELECT doc_id,
      |    CASE WHEN length(text) >= 8 THEN
      |      list_transform(range(1, length(text) - 8 + 2), i ->
      |        list_reduce(list_prepend(0::BIGINT,
      |          list_transform(range(i, i + 8), p -> ord(substr(text, p, 1))::BIGINT)),
      |          (a, b) -> (a * 31 + b) % 1000000007))
      |    ELSE [] END AS g
      |  FROM documents),
      |fp AS (
      |  SELECT doc_id,
      |    CASE WHEN len(g) >= 4 THEN
      |      list_sort(list_distinct(
      |        list_transform(range(1, len(g) - 4 + 2), j -> list_min(g[j:j+3]))))
      |    ELSE [] END AS fps
      |  FROM grams),
      |ex AS (SELECT doc_id, unnest(fps) AS fp FROM fp),
      |rare AS (SELECT fp FROM ex GROUP BY fp HAVING COUNT(DISTINCT doc_id) <= 5),
      |filtered AS (SELECT ex.doc_id, ex.fp FROM ex JOIN rare USING (fp)),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |         COUNT(DISTINCT a.fp) AS shared
      |  FROM filtered a JOIN filtered b
      |    ON a.fp = b.fp AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING COUNT(DISTINCT a.fp) >= 5)
      |SELECT * FROM pairs ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    val fps = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(TextAnalysis.winnow(col("text"), k = 8, w = 4)).as("fp"))
      // consumed three times (stop-gram agg + both pair sides) — compute
      // the per-row fingerprints once
      .localCheckpoint(false)
    val rare = fps.groupBy("fp")
      .agg(countDistinct("doc_id").as("nd"))
      .where(col("nd") <= 5)
      .select("fp")
    val filtered = fps.join(rare, "fp")
    filtered.select(col("fp"), col("doc_id").as("id_a"))
      .join(filtered.select(col("fp"), col("doc_id").as("id_b")), "fp")
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(countDistinct("fp").as("shared"))
      .where(col("shared") >= 5)
      .orderBy("id_a", "id_b")
  }

  /** Gopher-family repetition filter (Rae et al. 2021 §A1.1): per-doc
    * duplicate-word fraction, duplicate-2-gram fraction, and top-2-gram
    * character fraction, plus the keep/drop gate — the canonical
    * repetition-removal pass of a pretraining pipeline. FULLY oracled on
    * natural data: every metric is exact integer counting plus one double
    * division, stated identically by both engines (the keep flag compares
    * the ROUNDED metrics, so both engines gate on bit-identical inputs).
    *
    * 100 TB shape: one O(doc length) pass per row inside the scan — no
    * explode, no shuffle; the gate is a per-row filter the optimizer can
    * push wherever the pipeline consumes it. */
  val repetitionFilter: Reg = Reg.sql(
    "llm_repetition",
    """WITH w AS (
      |  SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
      |tok AS (
      |  SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS idx
      |  FROM w),
      |wstats AS (
      |  SELECT doc_id, COUNT(*) AS nw, COUNT(DISTINCT word) AS dw
      |  FROM tok GROUP BY doc_id),
      |big0 AS (
      |  SELECT doc_id,
      |         word || ' ' || lead(word) OVER (PARTITION BY doc_id ORDER BY idx)
      |           AS gram
      |  FROM tok),
      |big AS (SELECT doc_id, gram FROM big0 WHERE gram IS NOT NULL),
      |gstats AS (
      |  SELECT doc_id, COUNT(*) AS ng, COUNT(DISTINCT gram) AS dg
      |  FROM big GROUP BY doc_id),
      |gcnt AS (
      |  SELECT doc_id, gram, COUNT(*) AS cnt FROM big GROUP BY doc_id, gram),
      |top AS (
      |  SELECT doc_id, gram, cnt FROM (
      |    SELECT doc_id, gram, cnt,
      |           ROW_NUMBER() OVER (PARTITION BY doc_id
      |                              ORDER BY cnt DESC, gram) AS rn
      |    FROM gcnt) WHERE rn = 1),
      |m AS (
      |  SELECT w.doc_id,
      |         ROUND(1.0 - dw::DOUBLE / nw::DOUBLE, 6) AS dup_word_frac,
      |         ROUND(1.0 - dg::DOUBLE / ng::DOUBLE, 6) AS dup_2gram_frac,
      |         ROUND(t.cnt::DOUBLE * LENGTH(t.gram)::DOUBLE
      |               / LENGTH(w.text)::DOUBLE, 6) AS top_2gram_char_frac
      |  FROM w JOIN wstats USING (doc_id) JOIN gstats USING (doc_id)
      |         JOIN top t USING (doc_id)
      |  WHERE len(ws) >= 2)
      |SELECT doc_id, dup_word_frac, dup_2gram_frac, top_2gram_char_frac,
      |       (dup_word_frac <= 0.55 AND dup_2gram_frac <= 0.05
      |        AND top_2gram_char_frac <= 0.10) AS keep
      |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val stats = Tables.documents(s, dir)
      .select(col("doc_id"), TextAnalysis.repetitionStats(col("text")).as("r"))
      .where(col("r").isNotNull) // < 2 words: no 2-grams, gated out
      .select(col("doc_id"),
        round(col("r._1"), 6).as("dup_word_frac"),
        round(col("r._2"), 6).as("dup_2gram_frac"),
        round(col("r._3"), 6).as("top_2gram_char_frac"))
    stats.withColumn("keep",
      col("dup_word_frac") <= 0.55 && col("dup_2gram_frac") <= 0.05 &&
        col("top_2gram_char_frac") <= 0.10)
      .orderBy("doc_id")
  }

  /** Training-mix weighting: per-source token totals, the natural
    * (proportional) weight, and the temperature-scaled weight ratio
    * (tokens^0.3, the standard alpha-sampling used to up-weight small
    * sources in multilingual / multi-source pretraining). Fully oracled:
    * token totals are exact BIGINT sums; the two weight columns divide by
    * order-independent aggregates (an integer SUM and a MAX), so no
    * cross-row double accumulation can diverge — POW bit-parity between
    * DuckDB and the JVM is already pinned by p5/p3.
    *
    * 100 TB shape: one partial-agg shuffle to 5-ish source rows; the window
    * aggregates run on the post-agg frame (rows = |sources|, not |docs|). */
  val sourceMix: Reg = Reg.sql(
    "llm_source_mix",
    """WITH t AS (
      |  SELECT source, len(string_split(text, ' ')) AS wc FROM documents),
      |s AS (
      |  SELECT source, CAST(SUM(wc) AS BIGINT) AS tokens FROM t GROUP BY source)
      |SELECT source, tokens,
      |       ROUND(tokens::DOUBLE / (SUM(tokens) OVER ())::DOUBLE, 6)
      |         AS natural_weight,
      |       ROUND(POW(tokens::DOUBLE, 0.3)
      |             / POW((MAX(tokens) OVER ())::DOUBLE, 0.3), 6)
      |         AS mix_vs_top
      |FROM s ORDER BY source""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(lit(1))
    Tables.documents(s, dir)
      .select(col("source"), size(split(col("text"), " ", -1)).cast("bigint").as("wc"))
      .groupBy("source")
      .agg(sum("wc").as("tokens"))
      .select(col("source"), col("tokens"),
        round(col("tokens").cast("double") /
          sum("tokens").over(w).cast("double"), 6).as("natural_weight"),
        round(pow(col("tokens").cast("double"), 0.3) /
          pow(max("tokens").over(w).cast("double"), 0.3), 6).as("mix_vs_top"))
      .orderBy("source")
  }

  /** Deterministic train/val/test split by CONTENT hash — the leakage-safe
    * split a training pipeline needs at 100 TB. Hashing the text (not the
    * id, not a RNG) gives three properties a seeded `randomSplit` lacks:
    * byte-identical duplicates land in the SAME split (no train→eval
    * leakage through dupes), assignment is reproducible across runs /
    * cluster sizes / partition layouts, and late-arriving re-crawls of a
    * document keep its split. Pure per-row expression: no shuffle, no
    * state, fuses into the scan. First md5 hex nibble: 0–b train (12/16),
    * c–d val (2/16), e–f test (2/16). */
  val splitAssign: Reg = Reg.sql(
    "llm_split_assign",
    """SELECT doc_id,
      |       CASE WHEN substr(md5(text), 1, 1) <= 'b' THEN 'train'
      |            WHEN substr(md5(text), 1, 1) <= 'd' THEN 'val'
      |            ELSE 'test' END AS split,
      |       n_chars
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val nibble = substring(md5(col("text")), 1, 1)
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        when(nibble <= "b", "train")
          .when(nibble <= "d", "val")
          .otherwise("test").as("split"),
        col("n_chars"))
      .orderBy("doc_id")
  }

  /** Near-dup pairs → dedup CLUSTERS: LSH emits pairs (a~b, b~c), but the
    * keep/drop decision needs the transitive component {a,b,c} with one
    * canonical representative — `ConnectedComponents.runStar` (alternating
    * large-star/small-star, O(log n) rounds) closes that gap. Runs on the SAME
    * planted corpus as `llm_minhash_neardup` (whose oracle proves the pair
    * list is exact), and the DuckDB oracle computes components from that
    * pair list with a recursive CTE — the clustering itself is verified,
    * not just restated. doc_id%21 plants a triangle (base + near + exact
    * copy all pairwise-similar) so multi-hop merging is actually exercised. */
  val dupClusters: Reg = Reg.sql(
    "llm_dup_clusters",
    """WITH RECURSIVE ids AS (SELECT doc_id FROM documents),
      |pairs AS (
      |  SELECT doc_id AS id_a, doc_id + 10000000 AS id_b FROM ids WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id, doc_id + 20000000 FROM ids WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 10000000, doc_id + 20000000 FROM ids WHERE doc_id % 21 = 0),
      |undirected AS (
      |  SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
      |reach(n, m) AS (
      |  SELECT a, b FROM undirected
      |  UNION
      |  SELECT r.n, u.b FROM reach r JOIN undirected u ON r.m = u.a),
      |comp AS (
      |  SELECT n AS node, LEAST(n, MIN(m)) AS comp FROM reach GROUP BY n)
      |SELECT comp AS cluster_rep, COUNT(*) AS cluster_size
      |FROM comp GROUP BY comp ORDER BY cluster_rep""".stripMargin) { (s, dir) =>
    val base = Tables.documents(s, dir).select(col("doc_id"), plantedWords.as("text"))
    val near = base.where(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        concat(col("text"), format_string(" x%d", col("doc_id"))).as("text"))
    val exact = base.where(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
    val corpus = base.unionByName(near).unionByName(exact)
    val pairs = MinHash.nearDuplicates(corpus, "doc_id", "text")
    graft.operators.ConnectedComponents.runStar(pairs, "id_a", "id_b")
      .groupBy(col("comp").as("cluster_rep"))
      .agg(count(lit(1)).as("cluster_size"))
      .orderBy("cluster_rep")
  }

  /** SPLIT-LEAKAGE detection — the eval-integrity check every training
    * pipeline needs and the one the split assigner alone cannot give:
    * content-hash split assignment (`llm_split_assign`'s md5 rule) is
    * leak-proof against EXACT duplicates by construction (same text →
    * same hash → same split; the planted +20M copies land with their
    * originals every time), but NEAR-duplicates hash independently —
    * every planted near-copy re-rolls its split, so ~2/3 of near-dup
    * clusters straddle train/val/test. This query joins the near-dup
    * CLUSTERS (same planted corpus and CC as `llm_dup_clusters`, whose
    * pair list the minhash oracle proves exact) against each member's
    * OWN split and reports every cluster spanning >1 split with its
    * per-split member counts — the rows an eval-decontamination purge
    * acts on. DuckDB restates text reconstruction, md5 splits, recursive-
    * CTE components, and the spanning filter, so both the leak mechanism
    * and the detector are value-hashed.
    *
    * Scale: one CC over the pair list (O(log n) star rounds), one
    * broadcast-shaped split projection, one keyed aggregate — leakage
    * detection costs no more than clustering itself. */
  val splitLeakage: Reg = Reg.sql(
    "llm_split_leakage",
    """WITH RECURSIVE ids AS (SELECT doc_id FROM documents),
      |pairs AS (
      |  SELECT doc_id AS id_a, doc_id + 10000000 AS id_b FROM ids WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id, doc_id + 20000000 FROM ids WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 10000000, doc_id + 20000000 FROM ids WHERE doc_id % 21 = 0),
      |undirected AS (
      |  SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
      |reach(n, m) AS (
      |  SELECT a, b FROM undirected
      |  UNION
      |  SELECT r.n, u.b FROM reach r JOIN undirected u ON r.m = u.a),
      |comp AS (
      |  SELECT n AS node, LEAST(n, MIN(m)) AS comp FROM reach GROUP BY n),
      |txt AS (
      |  SELECT doc_id AS node,
      |         array_to_string(list_transform(range(0, 20),
      |           k -> printf('w%d_%d', doc_id, k)), ' ') AS t
      |  FROM ids
      |  UNION ALL
      |  SELECT doc_id + 10000000,
      |         array_to_string(list_transform(range(0, 20),
      |           k -> printf('w%d_%d', doc_id, k)), ' ') || printf(' x%d', doc_id)
      |  FROM ids WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id + 20000000,
      |         array_to_string(list_transform(range(0, 20),
      |           k -> printf('w%d_%d', doc_id, k)), ' ')
      |  FROM ids WHERE doc_id % 7 = 0),
      |sp AS (
      |  SELECT node,
      |         CASE WHEN substr(md5(t), 1, 1) <= 'b' THEN 'train'
      |              WHEN substr(md5(t), 1, 1) <= 'd' THEN 'val'
      |              ELSE 'test' END AS split
      |  FROM txt),
      |agg AS (
      |  SELECT c.comp AS cluster_rep,
      |         COUNT(*) AS cluster_size,
      |         COUNT(DISTINCT split) AS n_splits,
      |         CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_train,
      |         CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_val,
      |         CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_test
      |  FROM comp c JOIN sp USING (node) GROUP BY 1)
      |SELECT cluster_rep, CAST(cluster_size AS BIGINT) AS cluster_size,
      |       CAST(n_splits AS BIGINT) AS n_splits,
      |       CAST(n_train AS BIGINT) AS n_train,
      |       CAST(n_val AS BIGINT) AS n_val,
      |       CAST(n_test AS BIGINT) AS n_test
      |FROM agg WHERE n_splits > 1 ORDER BY cluster_rep""".stripMargin) { (s, dir) =>
    val base = Tables.documents(s, dir).select(col("doc_id"), plantedWords.as("text"))
    val near = base.where(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        concat(col("text"), format_string(" x%d", col("doc_id"))).as("text"))
    val exact = base.where(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
    val corpus = base.unionByName(near).unionByName(exact)
    val pairs = MinHash.nearDuplicates(corpus, "doc_id", "text")
    val comp = graft.operators.ConnectedComponents.runStar(pairs, "id_a", "id_b")
    val nibble = substring(md5(col("text")), 1, 1)
    val sp = corpus.select(col("doc_id").as("node"),
      when(nibble <= "b", "train").when(nibble <= "d", "val")
        .otherwise("test").as("split"))
    comp.join(sp, "node")
      .groupBy(col("comp").as("cluster_rep"))
      .agg(count(lit(1)).as("cluster_size"),
        countDistinct("split").cast("bigint").as("n_splits"),
        sum(when(col("split") === "train", 1).otherwise(0)).cast("bigint")
          .as("n_train"),
        sum(when(col("split") === "val", 1).otherwise(0)).cast("bigint")
          .as("n_val"),
        sum(when(col("split") === "test", 1).otherwise(0)).cast("bigint")
          .as("n_test"))
      .where(col("n_splits") > 1)
      .orderBy("cluster_rep")
  }

  /** The PURGE PLAN — detection made actionable, closing the loop that
    * `llm_split_leakage` (find spanning clusters) and `llm_cluster_reps`
    * (pick keepers) open: one row per document the curation job DROPS,
    * with the reason. Policy, the standard eval-protecting direction:
    * a cluster containing ANY val/test member drops ALL its train
    * members (`leak` — eval stays fixed, training must not see its
    * near-dups); a train-only cluster keeps its (quality, id)-argmax and
    * drops the rest (`dup` — ordinary dedup retention); eval-side
    * members are never dropped here (eval curation is a separate,
    * human-reviewed pass). Same planted corpus, CC, md5 splits, and
    * synthetic quality as the sibling queries, so DuckDB restates the
    * whole decision table and every dropped id is value-hashed. */
  val dedupPurgePlan: Reg = Reg.sql(
    "llm_dedup_purge_plan",
    """WITH RECURSIVE ids AS (SELECT doc_id FROM documents),
      |pairs AS (
      |  SELECT doc_id AS id_a, doc_id + 10000000 AS id_b FROM ids WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id, doc_id + 20000000 FROM ids WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 10000000, doc_id + 20000000 FROM ids WHERE doc_id % 21 = 0),
      |undirected AS (
      |  SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
      |reach(n, m) AS (
      |  SELECT a, b FROM undirected
      |  UNION
      |  SELECT r.n, u.b FROM reach r JOIN undirected u ON r.m = u.a),
      |comp AS (
      |  SELECT n AS node, LEAST(n, MIN(m)) AS comp FROM reach GROUP BY n),
      |txt AS (
      |  SELECT doc_id AS node,
      |         array_to_string(list_transform(range(0, 20),
      |           k -> printf('w%d_%d', doc_id, k)), ' ') AS t
      |  FROM ids
      |  UNION ALL
      |  SELECT doc_id + 10000000,
      |         array_to_string(list_transform(range(0, 20),
      |           k -> printf('w%d_%d', doc_id, k)), ' ') || printf(' x%d', doc_id)
      |  FROM ids WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id + 20000000,
      |         array_to_string(list_transform(range(0, 20),
      |           k -> printf('w%d_%d', doc_id, k)), ' ')
      |  FROM ids WHERE doc_id % 7 = 0),
      |sp AS (
      |  SELECT node,
      |         CASE WHEN substr(md5(t), 1, 1) <= 'b' THEN 'train'
      |              WHEN substr(md5(t), 1, 1) <= 'd' THEN 'val'
      |              ELSE 'test' END AS split
      |  FROM txt),
      |m AS (SELECT c.comp, c.node, sp.split
      |      FROM comp c JOIN sp ON sp.node = c.node),
      |flag AS (
      |  SELECT comp, MAX(CASE WHEN split IN ('val', 'test') THEN 1 ELSE 0 END)
      |           AS has_eval
      |  FROM m GROUP BY comp),
      |leakdrops AS (
      |  SELECT m.node, m.comp, 'leak' AS reason
      |  FROM m JOIN flag USING (comp)
      |  WHERE flag.has_eval = 1 AND m.split = 'train'),
      |trainonly AS (
      |  SELECT m.comp, m.node, (m.node * 37) % 1000 AS quality
      |  FROM m JOIN flag USING (comp) WHERE flag.has_eval = 0),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY comp
      |              ORDER BY quality DESC, node DESC) AS rn
      |  FROM trainonly),
      |dupdrops AS (SELECT node, comp, 'dup' AS reason FROM ranked WHERE rn > 1)
      |SELECT node AS dropped_doc, comp AS cluster_rep, reason
      |FROM (SELECT * FROM leakdrops UNION ALL SELECT * FROM dupdrops)
      |ORDER BY dropped_doc""".stripMargin) { (s, dir) =>
    val base = Tables.documents(s, dir).select(col("doc_id"), plantedWords.as("text"))
    val near = base.where(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        concat(col("text"), format_string(" x%d", col("doc_id"))).as("text"))
    val exact = base.where(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
    val corpus = base.unionByName(near).unionByName(exact)
    val pairs = MinHash.nearDuplicates(corpus, "doc_id", "text")
    val comp = graft.operators.ConnectedComponents.runStar(pairs, "id_a", "id_b")
    val nibble = substring(md5(col("text")), 1, 1)
    val sp = corpus.select(col("doc_id").as("node"),
      when(nibble <= "b", "train").when(nibble <= "d", "val")
        .otherwise("test").as("split"))
    // members feeds the flag aggregate AND both drop branches through
    // withFlag — without the cut each consumer re-runs the comp⋈sp join
    // (and sp's corpus text/md5 derivation) from scratch (guide §5
    // recompute-vs-reuse; lazy checkpoint, materialized by the first use)
    val members = comp.join(sp, "node").localCheckpoint(false)
    val flag = members.groupBy("comp")
      .agg(max(when(col("split").isin("val", "test"), 1).otherwise(0))
        .as("has_eval"))
    val withFlag = members.join(flag, "comp")
    val leakDrops = withFlag
      .where(col("has_eval") === 1 && col("split") === "train")
      .select(col("node"), col("comp"), lit("leak").as("reason"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("comp").orderBy(desc("quality"), desc("node"))
    val dupDrops = withFlag.where(col("has_eval") === 0)
      .withColumn("quality", (col("node") * 37) % 1000)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") > 1)
      .select(col("node"), col("comp"), lit("dup").as("reason"))
    leakDrops.unionByName(dupDrops)
      .select(col("node").as("dropped_doc"), col("comp").as("cluster_rep"),
        col("reason"))
      .orderBy("dropped_doc")
  }

  /** Cluster-representative selection — the retention HALF of near-dedup:
    * real pipelines don't drop an arbitrary member of each duplicate
    * cluster, they keep the BEST one (highest quality score) and purge the
    * rest. Runs on the same planted corpus as `llm_dup_clusters` (pair
    * list proven exact by the minhash oracle), with a deterministic
    * synthetic quality (node·37 mod 1000) both engines restate; the kept
    * doc is the (quality, doc_id)-argmax via max(struct(...)) — a total
    * tie-break, so re-runs and engines agree. One aggregate over the
    * component assignment; the argmax rides the same shuffle as the size
    * count. */
  val clusterReps: Reg = Reg.sql(
    "llm_cluster_reps",
    """WITH RECURSIVE ids AS (SELECT doc_id FROM documents),
      |pairs AS (
      |  SELECT doc_id AS id_a, doc_id + 10000000 AS id_b FROM ids WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id, doc_id + 20000000 FROM ids WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 10000000, doc_id + 20000000 FROM ids WHERE doc_id % 21 = 0),
      |undirected AS (
      |  SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
      |reach(n, m) AS (
      |  SELECT a, b FROM undirected
      |  UNION
      |  SELECT r.n, u.b FROM reach r JOIN undirected u ON r.m = u.a),
      |comp AS (
      |  SELECT n AS node, LEAST(n, MIN(m)) AS comp FROM reach GROUP BY n),
      |q AS (SELECT node, comp, (node * 37) % 1000 AS quality FROM comp),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY comp
      |                  ORDER BY quality DESC, node DESC) AS rn FROM q)
      |SELECT comp AS cluster_rep, CAST(COUNT(*) AS BIGINT) AS cluster_size,
      |       CAST(MAX(CASE WHEN rn = 1 THEN node END) AS BIGINT) AS kept_doc,
      |       CAST(MAX(CASE WHEN rn = 1 THEN quality END) AS BIGINT) AS kept_quality
      |FROM r GROUP BY comp ORDER BY cluster_rep""".stripMargin) { (s, dir) =>
    val base = Tables.documents(s, dir).select(col("doc_id"), plantedWords.as("text"))
    val near = base.where(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        concat(col("text"), format_string(" x%d", col("doc_id"))).as("text"))
    val exact = base.where(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
    val corpus = base.unionByName(near).unionByName(exact)
    val pairs = MinHash.nearDuplicates(corpus, "doc_id", "text")
    graft.operators.ConnectedComponents.runStar(pairs, "id_a", "id_b")
      .withColumn("quality", (col("node") * 37) % 1000)
      .groupBy(col("comp").as("cluster_rep"))
      .agg(
        count(lit(1)).as("cluster_size"),
        max(struct(col("quality"), col("node"))).as("best"))
      .select(col("cluster_rep"), col("cluster_size"),
        col("best.node").as("kept_doc"),
        col("best.quality").as("kept_quality"))
      .orderBy("cluster_rep")
  }

  /** Chain-shaped dup clusters through the O(log n) star algorithm:
    * `llm_dup_clusters` exercises component closure on triangle-planted
    * clusters (diameter ≤ 2 — converges in a few rounds at any SF); this
    * query plants the ADVERSARIAL shape, a drift chain doc i ~ doc i+10,
    * whose cluster diameter GROWS with the corpus (N/10 hops at scale
    * factor N/500). Min-label `run` would pay one round per hop — a 100 TB
    * crawl with month-long drift chains would need thousands of rounds —
    * so this routes through `runStar` (Kiveris et al. large-star/small-star,
    * O(log n) rounds; the spec asserts the bound on the counted variant).
    * The DuckDB oracle verifies the clustering itself by walking the chain
    * relation with a recursive CTE (each node chases predecessors to its
    * chain head), not by restating the residue-class answer. */
  val dupChainClusters: Reg = Reg.sql(
    "llm_dup_chain_clusters",
    """WITH RECURSIVE chase(n, cur) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION ALL
      |  SELECT c.n, d.doc_id FROM chase c
      |  JOIN documents d ON d.doc_id = c.cur - 10),
      |comp AS (SELECT n AS node, MIN(cur) AS comp FROM chase GROUP BY n)
      |SELECT comp AS cluster_rep, CAST(COUNT(*) AS BIGINT) AS cluster_size
      |FROM comp GROUP BY comp ORDER BY cluster_rep""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir).select("doc_id")
    val pairs = docs.as("x")
      .join(docs.as("y"), col("y.doc_id") === col("x.doc_id") + 10)
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
    graft.operators.ConnectedComponents.runStar(pairs, "id_a", "id_b")
      .groupBy(col("comp").as("cluster_rep"))
      .agg(count(lit(1)).as("cluster_size"))
      .orderBy("cluster_rep")
  }

  /** Characteristic terms per source — the TF-IDF shape (explode → term
    * frequency → document frequency → join → per-group top-k) with an
    * INTEGER rarity weight `tf · (|sources| − df + 1)` instead of
    * `tf · ln(N/df)`: libm `ln` differs by an ulp between JVM and C++ and
    * would flake the hash gate; integer arithmetic ranks identically for
    * the filter's purpose (rarer across sources ⇒ heavier). One explode
    * pass feeds BOTH aggregations; everything after runs on |vocab|-sized
    * frames, not the corpus. */
  val charTerms: Reg = Reg.sql(
    "llm_char_terms",
    """WITH words AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
      |tf AS (SELECT source, w, COUNT(*) AS tf FROM words WHERE w <> '' GROUP BY source, w),
      |df AS (SELECT w, COUNT(DISTINCT source) AS df FROM words WHERE w <> '' GROUP BY w),
      |n AS (SELECT COUNT(DISTINCT source) AS ns FROM documents),
      |scored AS (
      |  SELECT t.source, t.w, t.tf, d.df,
      |         t.tf * ((SELECT ns FROM n) - d.df + 1) AS score
      |  FROM tf t JOIN df d ON t.w = d.w),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
      |                               ORDER BY score DESC, w) AS rn
      |  FROM scored)
      |SELECT source, w, tf, df, score FROM ranked WHERE rn <= 3
      |ORDER BY source, score DESC, w""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    // tf AND df both consume the exploded frame — materialize it once, or
    // the corpus scan + explode runs twice (the cost the scaladoc claims
    // this shape avoids)
    val words = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ", -1)).as("w"))
      .where(col("w") =!= "")
      .localCheckpoint(false)
    val tf = words.groupBy("source", "w").agg(count(lit(1)).as("tf"))
    val df = words.groupBy("w").agg(countDistinct(col("source")).as("df"))
    val nSources = Tables.documents(s, dir)
      .agg(countDistinct(col("source")).as("ns"))
    val scored = tf.join(df, "w")
      .crossJoin(nSources) // 1-row frame: broadcast by construction
      .withColumn("score", col("tf") * (col("ns") - col("df") + 1))
    val w = Window.partitionBy("source").orderBy(col("score").desc, col("w"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select("source", "w", "tf", "df", "score")
      .orderBy(col("source"), col("score").desc, col("w"))
  }

  /** Deterministic stratified sampling: exactly K docs per source, chosen
    * by content-hash order — the eval-set construction primitive. Unlike
    * seeded `sampleBy` (fraction-approximate, partitioning-sensitive), the
    * md5 order gives an exact per-stratum count that is reproducible
    * across runs, cluster sizes, and engines (both sort the same lowercase
    * hex strings), and adding documents to a source only displaces
    * samples whose hash outranks them — near-stable under corpus growth.
    * One shuffle on source for the per-stratum rank. */
  val stratifiedSample: Reg = Reg.sql(
    "llm_stratified_sample",
    """SELECT source, doc_id FROM (
      |  SELECT source, doc_id,
      |         ROW_NUMBER() OVER (PARTITION BY source
      |                            ORDER BY md5(text), doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 5 ORDER BY source, doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy(md5(col("text")), col("doc_id"))
    Tables.documents(s, dir)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5)
      .select("source", "doc_id")
      .orderBy("source", "doc_id")
  }

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    * Spirakis 2006: top-k by key ln(u)/w) — the length/quality-proportional
    * corpus draw behind mixture construction, where a doc's inclusion odds
    * scale with its weight (n_chars here). RNG-free: the uniform u comes
    * from a Knuth multiplicative hash of doc_id in exact BIGINT arithmetic
    * (identical in both engines; (doc_id % 2^31)·2654435761 stays inside
    * BIGINT for any corpus), so the "random" draw is reproducible across
    * runs, partitionings, and engines — the same reproducibility rationale
    * as `llm_stratified_sample`, extended to weighted draws. The only
    * floats are one ln() and one divide per doc, floor-quantized to nano
    * units before the top-k (ulp surface ~1e-10 per doc, mid-grid safe).
    * One scan + TakeOrderedAndProject; no shuffle beyond the top-k. */
  val weightedSample: Reg = Reg.sql(
    "llm_weighted_sample",
    """WITH p AS (
      |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS w,
      |         CAST((doc_id % 2147483648) * 2654435761 % 2147483648
      |              AS BIGINT) AS h
      |  FROM documents),
      |k AS (
      |  SELECT doc_id, w,
      |         CAST(FLOOR(LN((h + 1) / CAST(2147483649 AS DOUBLE)) / w
      |                    * 1000000000) AS BIGINT) AS key_nano
      |  FROM p)
      |SELECT doc_id, CAST(w AS BIGINT) AS weight, key_nano
      |FROM k ORDER BY key_nano DESC, doc_id LIMIT 50""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        col("n_chars").cast("double").as("w"),
        ((col("doc_id") % 2147483648L) * 2654435761L % 2147483648L).as("h"))
      .select(col("doc_id"), col("w"),
        floor(log((col("h") + 1) / lit(2147483649L).cast("double")) / col("w")
          * lit(1000000000L)).cast("long").as("key_nano"))
      .select(col("doc_id"), col("w").cast("long").as("weight"), col("key_nano"))
      .orderBy(col("key_nano").desc, col("doc_id"))
      .limit(50)
  }

  /** Distribution-drift monitor: the exact two-sample Kolmogorov–Smirnov
    * statistic between one source's length distribution and the rest of
    * the corpus — the per-snapshot data-quality check a training pipeline
    * runs to catch a feed whose documents suddenly shrink, truncate, or
    * bloat. KS = max |F_a(v) − F_b(v)| over the merged support.
    *
    * Scale shape: the heavy work is per-VALUE aggregation (one shuffle,
    * cardinality bounded by the statistic's value domain — document
    * lengths — not by corpus size); the global cumulative window then runs
    * over that bounded support, so the single-partition window is
    * constant-sized at any SF. Float discipline: cumulative counts are
    * exact integers; each CDF fraction is ONE divide, the gap ONE
    * subtract, and MAX is comparison-only (no float accumulation
    * anywhere); the output is FLOOR-quantized to micro units. */
  val driftKs: Reg = Reg.sql(
    "llm_drift_ks",
    """WITH a AS (SELECT n_chars AS v FROM documents WHERE source = 'src0'),
      |b AS (SELECT n_chars AS v FROM documents WHERE source <> 'src0'),
      |na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_a FROM a),
      |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_b FROM b),
      |ca AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM a GROUP BY v),
      |cb AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY v),
      |vals AS (SELECT DISTINCT v FROM (SELECT v FROM ca UNION ALL SELECT v FROM cb)),
      |cum AS (
      |  SELECT vals.v,
      |         CAST(SUM(COALESCE(ca.c, 0)) OVER (ORDER BY vals.v
      |                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_a,
      |         CAST(SUM(COALESCE(cb.c, 0)) OVER (ORDER BY vals.v
      |                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_b
      |  FROM vals
      |  LEFT JOIN ca ON ca.v = vals.v
      |  LEFT JOIN cb ON cb.v = vals.v)
      |SELECT n_a, n_b,
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM vals) AS n_values,
      |       CAST(FLOOR(MAX(ABS(cum_a / CAST(n_a AS DOUBLE)
      |                          - cum_b / CAST(n_b AS DOUBLE))) * 1000000)
      |            AS BIGINT) AS ks_micro
      |FROM cum, na, nb GROUP BY n_a, n_b""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val ca = docs.where(col("source") === "src0")
      .groupBy(col("n_chars").as("v")).agg(count(lit(1)).as("c_a"))
    val cb = docs.where(col("source") =!= "src0")
      .groupBy(col("n_chars").as("v")).agg(count(lit(1)).as("c_b"))
    val na = docs.where(col("source") === "src0").agg(count(lit(1)).as("n_a"))
    val nb = docs.where(col("source") =!= "src0").agg(count(lit(1)).as("n_b"))
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ca.join(cb, Seq("v"), "full_outer")
      .select(col("v"),
        coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"))
      .withColumn("cum_a", sum("c_a").over(w))
      .withColumn("cum_b", sum("c_b").over(w))
      .crossJoin(na).crossJoin(nb) // 1-row frames: broadcast by construction
      .agg(
        first("n_a").as("n_a"), first("n_b").as("n_b"),
        count(lit(1)).as("n_values"),
        floor(max(abs(col("cum_a") / col("n_a").cast("double")
          - col("cum_b") / col("n_b").cast("double"))) * 1e6)
          .cast("long").as("ks_micro"))
  }

  /** Corpus n-gram frequency table (bigrams) — the count-table primitive
    * behind contamination checks, Kneser-Ney smoothing, and memorization
    * audits. The gram expansion is a per-row array `transform` (codegen,
    * no UDF) exploded once; one shuffle aggregates counts. Top-k with a
    * total-order tiebreak. A single-token document contributes no grams
    * (guarded: Spark's `sequence(1,0)` would count DOWN, not empty). */
  val ngramCounts: Reg = Reg.sql(
    "llm_ngram_counts",
    """WITH arr AS (SELECT string_split(text, ' ') AS a FROM documents),
      |grams AS (
      |  SELECT a[i] || ' ' || a[i+1] AS gram
      |  FROM arr, UNNEST(range(1, len(a))) AS t(i))
      |SELECT gram, COUNT(*) AS cnt FROM grams
      |GROUP BY gram ORDER BY cnt DESC, gram LIMIT 20""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(split(col("text"), " ", -1).as("a"))
      .select(explode(when(size(col("a")) >= 2,
        expr("transform(sequence(1, size(a) - 1), " +
          "i -> concat(element_at(a, i), ' ', element_at(a, i + 1)))"))
        .otherwise(array().cast("array<string>"))).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram"))
      .limit(20)
  }

  /** Segment-level dedup (the CCNet/RefinedWeb LINE-dedup shape: drop every
    * line whose content already appeared anywhere in the corpus, keep the
    * first occurrence, reassemble the survivors). The testdata's documents
    * carry no newlines, so "line" is re-expressed as a fixed 10-word
    * segment — the operator shape is identical: ONE explode (corpus →
    * segments), ONE global window shuffle keyed on segment content with
    * the deterministic (doc_id, seg_idx) first-occurrence rule, ONE
    * group-back per doc. Nothing is all-pairs and nothing collects; at
    * 100 TB the window's segment-content key partitions uniformly because
    * identical segments co-locate by definition. Output pins the
    * reassembled text via md5 (byte-identical across engines) plus
    * kept/dropped counts per doc. */
  val segmentDedup: Reg = Reg.sql(
    "llm_segment_dedup",
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |segs AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
      |         array_to_string(w[(CAST(i AS BIGINT)*10+1):(CAST(i AS BIGINT)*10+10)], ' ')
      |           AS seg
      |  FROM words, UNNEST(range(CAST(ceil(len(w)/10.0) AS BIGINT))) AS t(i)),
      |keep AS (
      |  SELECT doc_id, seg_idx, seg,
      |         ROW_NUMBER() OVER (PARTITION BY seg
      |                            ORDER BY doc_id, seg_idx) AS rn
      |  FROM segs)
      |SELECT doc_id,
      |       COUNT(*) FILTER (rn = 1) AS kept_segs,
      |       COUNT(*) FILTER (rn > 1) AS dropped_segs,
      |       md5(COALESCE(string_agg(seg, ' ' ORDER BY seg_idx)
      |                      FILTER (rn = 1), '')) AS cleaned_md5
      |FROM keep GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val segs = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ", -1).as("w"))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, cast(ceil(size(w) / 10.0) as int) - 1), " +
          "i -> array_join(slice(w, i * 10 + 1, 10), ' '))")))
      .toDF("doc_id", "seg_idx", "seg")
    segs
      .withColumn("rn", row_number().over(
        Window.partitionBy("seg").orderBy("doc_id", "seg_idx")))
      .groupBy("doc_id")
      .agg(
        count(when(col("rn") === 1, 1)).as("kept_segs"),
        count(when(col("rn") > 1, 1)).as("dropped_segs"),
        md5(array_join(expr(
          "transform(array_sort(collect_list(CASE WHEN rn = 1 " +
            "THEN struct(seg_idx, seg) END)), x -> x.seg)"), " "))
          .as("cleaned_md5"))
      .orderBy("doc_id")
  }

  /** Corpus-frequency boilerplate removal (the CCNet/RefinedWeb line-level
    * pass, Wenzek et al. 2019 §4.1: strip lines whose content repeats
    * across many documents — nav bars, cookie banners, footers): distinct
    * from `llm_segment_dedup`, which keeps the FIRST occurrence of every
    * duplicated segment; boilerplate removal drops ALL occurrences once the
    * segment's distinct-document frequency reaches a threshold (3 here;
    * 15 segments qualify at sf0.01, 94 at sf0.1 — the planted-by-generation
    * repeats). Same 10-word segment re-expression of "line" as
    * segment_dedup (the corpus has no newlines).
    *
    * 100 TB shape: explode → per-segment distinct-doc count (one shuffle on
    * segment content) → join back on segment (co-partitioned with the
    * aggregate's output, so the join reuses that exchange on the frequency
    * side) → one group-back per doc. Identical segments co-locate by
    * definition, the frequency side carries one row per distinct segment,
    * and nothing is all-pairs or driver-side. */
  val boilerplateStrip: Reg = Reg.sql(
    "llm_boilerplate_strip",
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |segs AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
      |         array_to_string(w[(CAST(i AS BIGINT)*10+1):(CAST(i AS BIGINT)*10+10)], ' ')
      |           AS seg
      |  FROM words, UNNEST(range(CAST(ceil(len(w)/10.0) AS BIGINT))) AS t(i)),
      |freq AS (SELECT seg, COUNT(DISTINCT doc_id) AS ndocs FROM segs GROUP BY seg)
      |SELECT s.doc_id,
      |       COUNT(*) FILTER (f.ndocs < 3) AS kept_segs,
      |       COUNT(*) FILTER (f.ndocs >= 3) AS stripped_segs,
      |       md5(COALESCE(string_agg(s.seg, ' ' ORDER BY s.seg_idx)
      |                      FILTER (f.ndocs < 3), '')) AS cleaned_md5
      |FROM segs s JOIN freq f ON f.seg = s.seg
      |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
    val MinDocs = 3
    val segs = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ", -1).as("w"))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, cast(ceil(size(w) / 10.0) as int) - 1), " +
          "i -> array_join(slice(w, i * 10 + 1, 10), ' '))")))
      .toDF("doc_id", "seg_idx", "seg")
    val freq = segs.groupBy("seg")
      .agg(countDistinct("doc_id").as("ndocs"))
    segs.join(freq, "seg")
      .groupBy("doc_id")
      .agg(
        count(when(col("ndocs") < MinDocs, 1)).as("kept_segs"),
        count(when(col("ndocs") >= MinDocs, 1)).as("stripped_segs"),
        md5(array_join(expr(
          s"transform(array_sort(collect_list(CASE WHEN ndocs < $MinDocs " +
            "THEN struct(seg_idx, seg) END)), x -> x.seg)"), " "))
          .as("cleaned_md5"))
      .orderBy("doc_id")
  }

  /** DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): select pretraining
    * documents whose hashed-feature distribution looks like a TARGET
    * domain. Features are word-level hash buckets (md5 first byte — 256
    * buckets, identical bytes in both engines); the per-bucket importance
    * is the add-1-smoothed ratio of target to corpus frequency; a doc's
    * score is the sum of its words' log-ratios; the top-100 by score are
    * the resampled slice.
    *
    * Cross-engine float discipline: the ONLY floating step is ln() of 256
    * bucket ratios (each a single IEEE divide of exact BIGINT products),
    * immediately FLOOR-quantized to integer micro-log units — per-doc
    * scores are then exact BIGINT sums, order-independent by construction
    * (the ulp-parity surface is 256 libm calls, not 600k-word float sums).
    *
    * 100 TB shape: two aggregations over the exploded words (corpus and
    * target bucket counts), a 256-row bounded ratio table broadcast by
    * construction (not SF-scaling — substr(md5,1,2) has ≤256 values), one
    * per-doc regroup, and a TakeOrderedAndProject top-k. Nothing all-pairs,
    * nothing driver-side. */
  val importanceResample: Reg = Reg.sql(
    "llm_importance_resample",
    """WITH words AS (
      |  SELECT doc_id, source, UNNEST(string_split(text, ' ')) AS w
      |  FROM documents),
      |b AS (SELECT doc_id, source, substr(md5(w), 1, 2) AS bk FROM words),
      |allc AS (SELECT bk, CAST(COUNT(*) AS BIGINT) AS cnt_all FROM b GROUP BY bk),
      |tgtc AS (SELECT bk, CAST(COUNT(*) AS BIGINT) AS cnt_t
      |         FROM b WHERE source = 'src0' GROUP BY bk),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_all,
      |               CAST(COUNT(*) FILTER (source = 'src0') AS BIGINT) AS total_t
      |        FROM b),
      |r AS (
      |  SELECT a.bk,
      |         CAST(FLOOR(LN(
      |             CAST((COALESCE(t.cnt_t, 0) + 1) * (total_all + 256) AS DOUBLE)
      |           / CAST((a.cnt_all + 1) * (total_t + 256) AS DOUBLE)) * 1000000)
      |           AS BIGINT) AS micro
      |  FROM allc a LEFT JOIN tgtc t ON t.bk = a.bk, tot)
      |SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
      |       CAST(SUM(r.micro) AS BIGINT) AS score_micro
      |FROM b d JOIN r ON r.bk = d.bk
      |GROUP BY d.doc_id
      |ORDER BY score_micro DESC, doc_id LIMIT 100""".stripMargin) { (s, dir) =>
    val Target = "src0"
    val words = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ", -1)).as("w"))
      .select(col("doc_id"), col("source"),
        substring(md5(col("w")), 1, 2).as("bk"))
    val allCnt = words.groupBy("bk").agg(count(lit(1)).as("cnt_all"))
    val tgtCnt = words.where(col("source") === Target)
      .groupBy("bk").agg(count(lit(1)).as("cnt_t"))
    val totals = words.agg(
      count(lit(1)).as("total_all"),
      count(when(col("source") === Target, 1)).as("total_t"))
    val ratios = allCnt.join(tgtCnt, Seq("bk"), "left")
      .na.fill(0L, Seq("cnt_t"))
      .crossJoin(totals) // 1-row frame: broadcast by construction
      .select(col("bk"),
        floor(log(
          ((col("cnt_t") + 1) * (col("total_all") + 256)).cast("double") /
            ((col("cnt_all") + 1) * (col("total_t") + 256)).cast("double"))
          * 1e6).cast("long").as("micro"))
    // ≤256 rows by construction (2-hex-char key) — a bounded dimension,
    // explicitly broadcast per the PlanAuditSpec discipline.
    words.join(broadcast(ratios), "bk")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("micro").as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(100)
  }

  /** BM25 top-k retrieval (Robertson & Zaragoza 2009) — the lexical scorer
    * a RAG/eval pipeline runs next to the ANN family: rank documents for a
    * fixed 5-term query with k1=1.2, b=0.75 and the BM25+ idf
    * ln(1 + (N−df+0.5)/(df+0.5)).
    *
    * Cross-engine float discipline (the DSIR pattern): every per-(doc,term)
    * score is ONE float expression — built with the IDENTICAL operation
    * tree in both engines, down to constants formed the same way
    * (1.2+1.0, not 2.2) — immediately FLOOR-quantized to integer
    * micro-units; per-doc totals are then exact BIGINT sums. avgdl is one
    * divide of exact integers. The ulp surface is one ln() per query term.
    *
    * 100 TB shape: the term filter is an IN-list pushed to the scan, tf is
    * one (doc,term) aggregate, df a ≤|terms|-row aggregate over it, doc
    * lengths one more aggregate, and the result a TakeOrderedAndProject —
    * no all-pairs, no hints (the tiny df/stats frames reach the joins via
    * AQE, not a broadcast bet made at plan time). */
  val bm25TopK: Reg = Reg.sql(
    "llm_bm25_topk",
    """WITH words AS (
      |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents),
      |len AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
      |        FROM words GROUP BY doc_id),
      |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |                 CAST(SUM(dl) AS BIGINT) AS total_len FROM len),
      |tf AS (SELECT doc_id, w AS term, CAST(COUNT(*) AS BIGINT) AS f
      |       FROM words WHERE w IN ('join', 'vector', 'scan', 'merge', 'filter')
      |       GROUP BY doc_id, w),
      |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS dfreq FROM tf GROUP BY term),
      |sc AS (
      |  SELECT tf.doc_id,
      |         CAST(FLOOR(
      |           LN(1.0 + (n_docs - dfreq + CAST(0.5 AS DOUBLE))
      |                    / (dfreq + CAST(0.5 AS DOUBLE)))
      |           * (CAST(f AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0))
      |           / (CAST(f AS DOUBLE) + CAST(1.2 AS DOUBLE)
      |              * (1.0 - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE)
      |                 * (CAST(dl AS DOUBLE)
      |                    / (CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
      |           * 1000000) AS BIGINT) AS micro
      |  FROM tf
      |  JOIN df ON df.term = tf.term
      |  JOIN len ON len.doc_id = tf.doc_id, stats)
      |SELECT doc_id, CAST(SUM(micro) AS BIGINT) AS score_micro,
      |       CAST(COUNT(*) AS BIGINT) AS terms_hit
      |FROM sc GROUP BY doc_id
      |ORDER BY score_micro DESC, doc_id LIMIT 20""".stripMargin) { (s, dir) =>
    val Terms = Seq("join", "vector", "scan", "merge", "filter")
    val words = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("w"))
    val len = words.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = len.agg(count(lit(1)).as("n_docs"), sum("dl").as("total_len"))
    val tf = words.where(col("w").isin(Terms: _*))
      .groupBy(col("doc_id"), col("w").as("term"))
      .agg(count(lit(1)).as("f"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("dfreq"))
    val avgdl = col("total_len").cast("double") / col("n_docs").cast("double")
    val idf = log(lit(1.0) +
      (col("n_docs") - col("dfreq") + lit(0.5)) / (col("dfreq") + lit(0.5)))
    // operation tree mirrors the oracle EXACTLY: ((idf * num) / den) * 1e6
    val num = col("f").cast("double") * (lit(1.2) + lit(1.0))
    val den = col("f").cast("double") + lit(1.2) *
      (lit(1.0) - lit(0.75) + lit(0.75) * (col("dl").cast("double") / avgdl))
    tf.join(df, "term")
      .join(len, "doc_id")
      .crossJoin(stats) // 1-row frame: broadcast by construction
      .select(col("doc_id"),
        floor(idf * num / den * lit(1000000)).cast("long").as("micro"))
      .groupBy("doc_id")
      .agg(sum("micro").as("score_micro"), count(lit(1)).as("terms_hit"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(20)
  }

  /** Hybrid retrieval fusion (reciprocal-rank fusion, Cormack et al. 2009)
    * — the standard way a curation/eval pipeline combines its LEXICAL
    * scorer (BM25) with its DENSE scorer (embedding cosine): each ranker
    * contributes 1/(k + rank) with k=60, summed per document over the two
    * top-100 lists; a document missing from one list contributes 0 from
    * that side. The documents and embeddings tables share the id space, so
    * doc_id IS the dense row's vec_id.
    *
    * Exactness: the BM25 side reuses llm_bm25_topk's integer-micro
    * discipline; RRF contributions are EXACT INTEGER division
    * (1e9 div (60+rank) — `div`/`//` in the two engines), so the fused
    * score is a BIGINT sum with no float exposure at all. The dense rank
    * orders on the raw cosine exactly as llm_ann_brute does (bit-identical
    * accumulation both engines, tie-break by vec_id).
    *
    * 100 TB shape: BM25 is aggregates + TakeOrderedAndProject; the dense
    * side is a linear scan against ONE broadcast query vector; each top-100
    * list is constant-size, so the fusion join and final rank are
    * driver-trivial no matter the corpus. */
  val hybridRrf: Reg = Reg.sql(
    "llm_hybrid_rrf",
    """WITH words AS (
      |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents),
      |len AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
      |        FROM words GROUP BY doc_id),
      |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |                 CAST(SUM(dl) AS BIGINT) AS total_len FROM len),
      |tf AS (SELECT doc_id, w AS term, CAST(COUNT(*) AS BIGINT) AS f
      |       FROM words WHERE w IN ('join', 'vector', 'scan', 'merge', 'filter')
      |       GROUP BY doc_id, w),
      |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS dfreq FROM tf GROUP BY term),
      |sc AS (
      |  SELECT tf.doc_id,
      |         CAST(FLOOR(
      |           LN(1.0 + (n_docs - dfreq + CAST(0.5 AS DOUBLE))
      |                    / (dfreq + CAST(0.5 AS DOUBLE)))
      |           * (CAST(f AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0))
      |           / (CAST(f AS DOUBLE) + CAST(1.2 AS DOUBLE)
      |              * (1.0 - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE)
      |                 * (CAST(dl AS DOUBLE)
      |                    / (CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
      |           * 1000000) AS BIGINT) AS micro
      |  FROM tf
      |  JOIN df ON df.term = tf.term
      |  JOIN len ON len.doc_id = tf.doc_id, stats),
      |lexs AS (SELECT doc_id, CAST(SUM(micro) AS BIGINT) AS score_micro
      |         FROM sc GROUP BY doc_id),
      |lex AS (SELECT doc_id, l_rank FROM (
      |          SELECT doc_id, ROW_NUMBER() OVER
      |            (ORDER BY score_micro DESC, doc_id) AS l_rank
      |          FROM lexs) WHERE l_rank <= 100),
      |dense AS (SELECT doc_id, d_rank FROM (
      |          SELECT vec_id AS doc_id, ROW_NUMBER() OVER
      |            (ORDER BY cs DESC, vec_id) AS d_rank
      |          FROM (SELECT c.vec_id,
      |                       list_cosine_similarity(c.emb, q.q_emb) AS cs
      |                FROM (SELECT vec_id, embedding::DOUBLE[] AS emb
      |                      FROM embeddings) c,
      |                     (SELECT embedding::DOUBLE[] AS q_emb
      |                      FROM embeddings WHERE vec_id < 1) q
      |                WHERE c.vec_id <> 0)) WHERE d_rank <= 100),
      |fused AS (
      |  SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
      |         COALESCE(1000000000 // (60 + l.l_rank), 0)
      |           + COALESCE(1000000000 // (60 + d.d_rank), 0) AS rrf_micro,
      |         l.l_rank, d.d_rank
      |  FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id)
      |SELECT doc_id, CAST(rrf_micro AS BIGINT) AS rrf_micro,
      |       CAST(l_rank AS BIGINT) AS l_rank, CAST(d_rank AS BIGINT) AS d_rank
      |FROM fused ORDER BY rrf_micro DESC, doc_id LIMIT 20""".stripMargin) {
    (s, dir) =>
      val Terms = Seq("join", "vector", "scan", "merge", "filter")
      val words = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("w"))
      val len = words.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val stats = len.agg(count(lit(1)).as("n_docs"), sum("dl").as("total_len"))
      val tf = words.where(col("w").isin(Terms: _*))
        .groupBy(col("doc_id"), col("w").as("term"))
        .agg(count(lit(1)).as("f"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("dfreq"))
      val avgdl = col("total_len").cast("double") / col("n_docs").cast("double")
      val idf = log(lit(1.0) +
        (col("n_docs") - col("dfreq") + lit(0.5)) / (col("dfreq") + lit(0.5)))
      val num = col("f").cast("double") * (lit(1.2) + lit(1.0))
      val den = col("f").cast("double") + lit(1.2) *
        (lit(1.0) - lit(0.75) + lit(0.75) * (col("dl").cast("double") / avgdl))
      val lexs = tf.join(df, "term")
        .join(len, "doc_id")
        .crossJoin(stats) // 1-row frame: broadcast by construction
        .select(col("doc_id"),
          floor(idf * num / den * lit(1000000)).cast("long").as("micro"))
        .groupBy("doc_id")
        .agg(sum("micro").as("score_micro"))
      // TakeOrderedAndProject bounds the list FIRST; the global row_number
      // then runs over the 100-row result, never the corpus
      val lex = lexs.orderBy(col("score_micro").desc, col("doc_id")).limit(100)
        .withColumn("l_rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("score_micro").desc, col("doc_id"))))
        .select("doc_id", "l_rank")
      val emb = Tables.embeddings(s, dir)
      // `< 1` not `=== 0`: same single row (ids are non-negative), but the
      // broadcast-discipline audit recognizes the constant cap
      val dense = Similarity.bruteForceTopK(
        emb, emb.where(col("vec_id") < 1), k = 100)
        .select(col("vec_id").as("doc_id"), col("rank").as("d_rank"))
      lex.join(dense, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          (coalesce(expr("1000000000 div (60 + l_rank)"), lit(0L)) +
            coalesce(expr("1000000000 div (60 + d_rank)"), lit(0L)))
            .as("rrf_micro"),
          col("l_rank").cast("bigint").as("l_rank"),
          col("d_rank").cast("bigint").as("d_rank"))
        .orderBy(col("rrf_micro").desc, col("doc_id"))
        .limit(20)
  }

  /** Retrieval-quality EVAL (nDCG@10) — the measurement half of an
    * eval-driven curation loop: before trusting a retriever to mine
    * hard negatives or rank curation candidates, score it against exact
    * ground truth. Ground truth here is the EXACT cosine ranking (the
    * thing ANN/lexical systems approximate), graded into relevance tiers:
    * true ranks 1–2 → rel 3 (gain 7), 3–5 → rel 2 (gain 3), 6–10 → rel 1
    * (gain 1), else 0. Three rankers are scored: the dense ranking itself
    * (a built-in sanity invariant — its nDCG is exactly 1), the BM25
    * lexical top-10, and the RRF fusion of the two top-100 lists
    * (llm_hybrid_rrf's fused score).
    *
    * Exactness: no float ever enters the metric. The rank discounts
    * 1/log2(i+1) are PRE-QUANTIZED micro-integer literals (the same ten
    * constants in both engines), gains are integers, DCG/IDCG are BIGINT
    * sums, and nDCG is one integer division (dcg·1e6 div idcg).
    *
    * 100 TB shape: each ranker's list is top-k-bounded before any
    * metric work (TakeOrdered / bounded window), so the eval joins run on
    * constant-size frames no matter the corpus; the only corpus-scale
    * passes are the rankers themselves (scan + aggregate, shared shapes
    * with llm_bm25_topk / llm_ann_brute / llm_hybrid_rrf). */
  val retrievalNdcg: Reg = Reg.sql(
    "llm_retrieval_ndcg",
    """WITH words AS (
      |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents),
      |len AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
      |        FROM words GROUP BY doc_id),
      |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |                 CAST(SUM(dl) AS BIGINT) AS total_len FROM len),
      |tf AS (SELECT doc_id, w AS term, CAST(COUNT(*) AS BIGINT) AS f
      |       FROM words WHERE w IN ('join', 'vector', 'scan', 'merge', 'filter')
      |       GROUP BY doc_id, w),
      |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS dfreq FROM tf GROUP BY term),
      |sc AS (
      |  SELECT tf.doc_id,
      |         CAST(FLOOR(
      |           LN(1.0 + (n_docs - dfreq + CAST(0.5 AS DOUBLE))
      |                    / (dfreq + CAST(0.5 AS DOUBLE)))
      |           * (CAST(f AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0))
      |           / (CAST(f AS DOUBLE) + CAST(1.2 AS DOUBLE)
      |              * (1.0 - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE)
      |                 * (CAST(dl AS DOUBLE)
      |                    / (CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
      |           * 1000000) AS BIGINT) AS micro
      |  FROM tf
      |  JOIN df ON df.term = tf.term
      |  JOIN len ON len.doc_id = tf.doc_id, stats),
      |lexs AS (SELECT doc_id, CAST(SUM(micro) AS BIGINT) AS score_micro
      |         FROM sc GROUP BY doc_id),
      |lex AS (SELECT doc_id, l_rank FROM (
      |          SELECT doc_id, ROW_NUMBER() OVER
      |            (ORDER BY score_micro DESC, doc_id) AS l_rank
      |          FROM lexs) WHERE l_rank <= 100),
      |dense AS (SELECT doc_id, d_rank FROM (
      |          SELECT vec_id AS doc_id, ROW_NUMBER() OVER
      |            (ORDER BY cs DESC, vec_id) AS d_rank
      |          FROM (SELECT c.vec_id,
      |                       list_cosine_similarity(c.emb, q.q_emb) AS cs
      |                FROM (SELECT vec_id, embedding::DOUBLE[] AS emb
      |                      FROM embeddings) c,
      |                     (SELECT embedding::DOUBLE[] AS q_emb
      |                      FROM embeddings WHERE vec_id < 1) q
      |                WHERE c.vec_id <> 0)) WHERE d_rank <= 100),
      |fused AS (
      |  SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
      |         COALESCE(1000000000 // (60 + l.l_rank), 0)
      |           + COALESCE(1000000000 // (60 + d.d_rank), 0) AS rrf_micro
      |  FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id),
      |disc AS (SELECT * FROM (VALUES
      |  (1, 1000000), (2, 630929), (3, 500000), (4, 430676), (5, 386852),
      |  (6, 356207), (7, 333333), (8, 315464), (9, 301029), (10, 289064))
      |  AS t(rnk, dmicro)),
      |gold AS (
      |  SELECT doc_id,
      |         CASE WHEN d_rank <= 2 THEN 7
      |              WHEN d_rank <= 5 THEN 3 ELSE 1 END AS gain
      |  FROM dense WHERE d_rank <= 10),
      |idcg AS (
      |  SELECT CAST(SUM(g.gain * d.dmicro) AS BIGINT) AS idcg_micro
      |  FROM (SELECT gain, ROW_NUMBER() OVER
      |          (ORDER BY gain DESC, doc_id) AS rnk FROM gold) g
      |  JOIN disc d ON d.rnk = g.rnk),
      |lex10 AS (SELECT doc_id, l_rank AS rnk FROM lex WHERE l_rank <= 10),
      |dense10 AS (SELECT doc_id, d_rank AS rnk FROM dense WHERE d_rank <= 10),
      |rrf10 AS (SELECT doc_id, rnk FROM (
      |            SELECT doc_id, ROW_NUMBER() OVER
      |              (ORDER BY rrf_micro DESC, doc_id) AS rnk
      |            FROM fused) WHERE rnk <= 10),
      |scored AS (
      |  SELECT 'dense' AS ranker,
      |         CAST(SUM(COALESCE(g.gain, 0) * d.dmicro) AS BIGINT) AS dcg_micro
      |  FROM dense10 r JOIN disc d ON d.rnk = r.rnk
      |  LEFT JOIN gold g ON g.doc_id = r.doc_id
      |  UNION ALL
      |  SELECT 'lexical',
      |         CAST(SUM(COALESCE(g.gain, 0) * d.dmicro) AS BIGINT)
      |  FROM lex10 r JOIN disc d ON d.rnk = r.rnk
      |  LEFT JOIN gold g ON g.doc_id = r.doc_id
      |  UNION ALL
      |  SELECT 'rrf',
      |         CAST(SUM(COALESCE(g.gain, 0) * d.dmicro) AS BIGINT)
      |  FROM rrf10 r JOIN disc d ON d.rnk = r.rnk
      |  LEFT JOIN gold g ON g.doc_id = r.doc_id)
      |SELECT ranker, dcg_micro, idcg_micro,
      |       (dcg_micro * 1000000) // idcg_micro AS ndcg_micro
      |FROM scored, idcg ORDER BY ranker""".stripMargin) { (s, dir) =>
    val Terms = Seq("join", "vector", "scan", "merge", "filter")
    val words = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("w"))
    val len = words.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = len.agg(count(lit(1)).as("n_docs"), sum("dl").as("total_len"))
    val tf = words.where(col("w").isin(Terms: _*))
      .groupBy(col("doc_id"), col("w").as("term"))
      .agg(count(lit(1)).as("f"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("dfreq"))
    val avgdl = col("total_len").cast("double") / col("n_docs").cast("double")
    val idf = log(lit(1.0) +
      (col("n_docs") - col("dfreq") + lit(0.5)) / (col("dfreq") + lit(0.5)))
    val num = col("f").cast("double") * (lit(1.2) + lit(1.0))
    val den = col("f").cast("double") + lit(1.2) *
      (lit(1.0) - lit(0.75) + lit(0.75) * (col("dl").cast("double") / avgdl))
    val lexs = tf.join(df, "term")
      .join(len, "doc_id")
      .crossJoin(stats) // 1-row frame: broadcast by construction
      .select(col("doc_id"),
        floor(idf * num / den * lit(1000000)).cast("long").as("micro"))
      .groupBy("doc_id")
      .agg(sum("micro").as("score_micro"))
    val lex = lexs.orderBy(col("score_micro").desc, col("doc_id")).limit(100)
      .withColumn("l_rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score_micro").desc, col("doc_id"))))
      .select("doc_id", "l_rank")
    val emb = Tables.embeddings(s, dir)
    val dense = Similarity.bruteForceTopK(
      emb, emb.where(col("vec_id") < 1), k = 100)
      .select(col("vec_id").as("doc_id"), col("rank").as("d_rank"))
    val fused = lex.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (coalesce(expr("1000000000 div (60 + l_rank)"), lit(0L)) +
          coalesce(expr("1000000000 div (60 + d_rank)"), lit(0L)))
          .as("rrf_micro"))
    // rank-discount micro literals: floor(1e6 / log2(i+1)), i = 1..10 —
    // pre-quantized so neither engine computes a log at query time
    val discMicro = typedlit(Map(
      1 -> 1000000L, 2 -> 630929L, 3 -> 500000L, 4 -> 430676L, 5 -> 386852L,
      6 -> 356207L, 7 -> 333333L, 8 -> 315464L, 9 -> 301029L, 10 -> 289064L))
    val gold = dense.where(col("d_rank") <= 10)
      .select(col("doc_id"),
        when(col("d_rank") <= 2, 7L).when(col("d_rank") <= 5, 3L)
          .otherwise(1L).as("gain"))
      .localCheckpoint(false) // 10 rows; feeds idcg + three ranker evals
    val idcg = gold
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("gain").desc, col("doc_id"))))
      .select((col("gain") * element_at(discMicro, col("rnk"))).as("c"))
      .agg(sum("c").as("idcg_micro"))
    def dcgOf(name: String, ranked: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
      ranked.join(gold, Seq("doc_id"), "left")
        .select((coalesce(col("gain"), lit(0L)) *
          element_at(discMicro, col("rnk"))).as("c"))
        .agg(sum("c").as("dcg_micro"))
        .select(lit(name).as("ranker"), col("dcg_micro"))
    val dense10 = dense.where(col("d_rank") <= 10)
      .select(col("doc_id"), col("d_rank").cast("int").as("rnk"))
    val lex10 = lex.where(col("l_rank") <= 10)
      .select(col("doc_id"), col("l_rank").cast("int").as("rnk"))
    val rrf10 = fused
      .orderBy(col("rrf_micro").desc, col("doc_id")).limit(10)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("rrf_micro").desc, col("doc_id"))).cast("int"))
      .select("doc_id", "rnk")
    dcgOf("dense", dense10)
      .unionByName(dcgOf("lexical", lex10))
      .unionByName(dcgOf("rrf", rrf10))
      .crossJoin(idcg) // 1-row frame
      .select(col("ranker"), col("dcg_micro"), col("idcg_micro"),
        expr("(dcg_micro * 1000000) div idcg_micro").as("ndcg_micro"))
      .orderBy("ranker")
  }

  /** Per-class embedding centroids — the class-prototype vector behind
    * nearest-class-mean classification, clustering diagnostics, and
    * prototype-based data pruning (e.g. SemDeDup-style cluster centers):
    * an element-wise mean over `Array[Float]` per label.
    *
    * Exactness: float sums are order-sensitive, so each element is first
    * FLOOR-quantized to integer tenth-micro units (1e-7 — below float32's
    * ~6e-8 epsilon at unit scale, so the quantization is at the noise
    * floor); the per-(label, dim) sums are then exact BIGINT arithmetic
    * and the mean is ONE IEEE divide — bit-identical in both engines with
    * no accumulation-order exposure at any parallelism.
    *
    * 100 TB shape: posexplode to (label, dim) then ONE shuffle for the
    * aggregate; output is |labels|×|dims| rows regardless of corpus size. */
  val embedCentroids: Reg = Reg.sql(
    "llm_embed_centroids",
    """WITH e AS (
      |  SELECT label,
      |         CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
      |         CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 10000000)
      |              AS BIGINT) AS q
      |  FROM embeddings),
      |c AS (
      |  SELECT label, pos, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |         CAST(SUM(q) AS BIGINT) AS q_sum
      |  FROM e GROUP BY label, pos)
      |SELECT label, pos, n_vecs, q_sum,
      |       CAST(q_sum AS DOUBLE) / n_vecs AS mean_micro
      |FROM c ORDER BY label, pos""".stripMargin) { (s, dir) =>
    Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"),
        (col("pos") + 1).cast("long").as("pos"),
        floor(col("col").cast("double") * lit(10000000)).cast("long").as("q"))
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("n_vecs"), sum("q").as("q_sum"))
      .select(col("label"), col("pos"), col("n_vecs"), col("q_sum"),
        (col("q_sum").cast("double") / col("n_vecs")).as("mean_micro"))
      .orderBy("label", "pos")
  }

  /** EMBEDDING-quality diagnostics per dimension — the health check an
    * embedding pipeline runs before building indexes on a new encoder
    * drop: exact per-dimension moments on the 1e-4 quantization lattice
    * (sums of q and q² stay in BIGINT at these scales; the DECIMAL
    * upgrade is the documented next-decade path), a DEAD-dimension flag
    * (min = max — a constant coordinate carries no information and
    * silently wastes index bits), and the variance rank from the exact
    * integer numerator n·Σq² − (Σq)² — dominant dimensions distort
    * un-normalized distance metrics. One posexplode + one (dim) aggregate
    * + a 64-row window: corpus-linear, output dimension-sized. */
  val embeddingDimStats: Reg = Reg.sql(
    "llm_embedding_dim_stats",
    """WITH e AS (
      |  SELECT CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
      |         CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 10000)
      |              AS BIGINT) AS q
      |  FROM embeddings),
      |c AS (
      |  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
      |         CAST(SUM(q) AS BIGINT) AS sum_q,
      |         CAST(SUM(q * q) AS BIGINT) AS sum_sq,
      |         CAST(MIN(q) AS BIGINT) AS min_q,
      |         CAST(MAX(q) AS BIGINT) AS max_q
      |  FROM e GROUP BY dim)
      |SELECT dim, n, sum_q, sum_sq, min_q, max_q,
      |       (min_q = max_q) AS dead,
      |       CAST(ROW_NUMBER() OVER
      |         (ORDER BY n * sum_sq - sum_q * sum_q DESC, dim) AS BIGINT)
      |         AS var_rank
      |FROM c ORDER BY dim""".stripMargin) { (s, dir) =>
    val c = Tables.embeddings(s, dir)
      .select(posexplode(col("embedding")))
      .select((col("pos") + 1).cast("long").as("dim"),
        floor(col("col").cast("double") * lit(10000)).cast("long").as("q"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), sum("q").as("sum_q"),
        sum(col("q") * col("q")).as("sum_sq"),
        min("q").as("min_q"), max("q").as("max_q"))
    c.select(col("dim"), col("n"), col("sum_q"), col("sum_sq"),
      col("min_q"), col("max_q"),
      (col("min_q") === col("max_q")).as("dead"),
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy((col("n") * col("sum_sq") - col("sum_q") * col("sum_q")).desc,
          col("dim"))).cast("bigint").as("var_rank"))
      .orderBy("dim")
  }

  /** Gopher-family quality RULES (Rae et al. 2021 §A1.1 document filters —
    * the repetition half lives in `llm_repetition`): word-count bounds,
    * mean word length window, alphabetic-word fraction, and a minimum
    * stop-word hit count, each a pure per-row expression fused into the
    * scan (no shuffle at all before the output sort). The line-shaped
    * rules (bullet/ellipsis line ratios) need newlines the testdata
    * doesn't have and are the documented omission. Means are
    * FLOOR-truncated per the cross-engine discipline, so the pass/fail
    * boolean compares identical doubles in both engines. */
  val gopherRules: Reg = Reg.sql(
    "llm_gopher_rules",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS w,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS wc,
      |         CAST(length(replace(text, ' ', '')) AS BIGINT) AS letters
      |  FROM documents),
      |m AS (
      |  SELECT doc_id, wc,
      |         FLOOR(1e4 * letters / wc) / 1e4 AS mean_word_len,
      |         FLOOR(1e4 * CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
      |                          AS BIGINT) / wc) / 1e4 AS alpha_frac,
      |         CAST(CASE WHEN list_contains(w, 'the') THEN 1 ELSE 0 END +
      |              CASE WHEN list_contains(w, 'a') THEN 1 ELSE 0 END +
      |              CASE WHEN list_contains(w, 'of') THEN 1 ELSE 0 END +
      |              CASE WHEN list_contains(w, 'to') THEN 1 ELSE 0 END +
      |              CASE WHEN list_contains(w, 'and') THEN 1 ELSE 0 END
      |              AS BIGINT) AS stop_hits
      |  FROM t)
      |SELECT doc_id, wc AS word_count, mean_word_len, alpha_frac, stop_hits,
      |       (wc BETWEEN 20 AND 200) AND (mean_word_len BETWEEN 3.0 AND 10.0)
      |         AND alpha_frac >= 0.8 AND stop_hits >= 2 AS passes
      |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ", -1).as("w"),
        length(translate(col("text"), " ", "")).cast("bigint").as("letters"))
      .withColumn("wc", size(col("w")).cast("bigint"))
    val stopHits = Seq("the", "a", "of", "to", "and")
      .map(sw => when(array_contains(col("w"), sw), 1).otherwise(0))
      .reduce(_ + _).cast("bigint")
    val m = base.select(
      col("doc_id"),
      col("wc").as("word_count"),
      (floor(lit(1e4) * col("letters") / col("wc")) / 1e4).as("mean_word_len"),
      (floor(lit(1e4) * expr("size(filter(w, x -> x rlike '[a-z]'))").cast("bigint")
        / col("wc")) / 1e4).as("alpha_frac"),
      stopHits.as("stop_hits"))
    m.select(col("doc_id"), col("word_count"), col("mean_word_len"),
      col("alpha_frac"), col("stop_hits"),
      (col("word_count").between(20, 200) &&
        col("mean_word_len").between(3.0, 10.0) &&
        col("alpha_frac") >= 0.8 && col("stop_hits") >= 2).as("passes"))
      .orderBy("doc_id")
  }

  /** Greedy sequence PACKING (the sample-packing step every pretraining
    * run does before tokenized examples hit the trainer): documents fold
    * into fixed-capacity training sequences in doc_id order — a doc that
    * would overflow the open sequence starts the next one; each output row
    * pins (sequence id, token offset) for its doc. Packing is inherently
    * sequential WITHIN a stream, so the 100 TB shape shards it: one fold
    * per source via `groupByKey(source).flatMapGroups` (parallel across
    * shards, state = one running fill per shard, never the doc list — the
    * iterator is consumed in sorted order after an in-group sort whose
    * size is the shard's doc count, the same bound `BatchLocalizer`
    * documents). DuckDB states the identical fold as a recursive CTE over
    * the per-source row numbering. Token count = whitespace word count
    * (the `llm_token_estimate` convention). */
  val seqPacking: Reg = Reg.sql(
    "llm_seq_packing",
    """WITH RECURSIVE d AS (
      |  SELECT source, doc_id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS wc,
      |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      |  FROM documents),
      |pack AS (
      |  SELECT source, doc_id, wc, rn,
      |         CAST(0 AS BIGINT) AS seq_id,
      |         CAST(0 AS BIGINT) AS tok_offset,
      |         wc AS fill
      |  FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT d.source, d.doc_id, d.wc, d.rn,
      |         CASE WHEN p.fill + d.wc > 256 THEN p.seq_id + 1
      |              ELSE p.seq_id END,
      |         CASE WHEN p.fill + d.wc > 256 THEN CAST(0 AS BIGINT)
      |              ELSE p.fill END,
      |         CASE WHEN p.fill + d.wc > 256 THEN d.wc
      |              ELSE p.fill + d.wc END
      |  FROM d JOIN pack p ON d.source = p.source AND d.rn = p.rn + 1)
      |SELECT doc_id, source, seq_id, tok_offset, wc
      |FROM pack ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ", -1)).cast("long").as("wc"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (source, it) =>
        val docs = it.toArray.sortBy(_._2)
        var seqId = 0L; var fill = 0L; var first = true
        docs.iterator.map { case (_, docId, wc) =>
          val offset =
            if (first) { first = false; fill = wc; 0L }
            else if (fill + wc > 256L) { seqId += 1; fill = wc; 0L }
            else { val o = fill; fill += wc; o }
          (docId, source, seqId, offset, wc)
        }
      }
      .toDF("doc_id", "source", "seq_id", "tok_offset", "wc")
      .orderBy("doc_id")
  }

  /** Sliding-window context CHUNKING (the RAG-indexing prep step: split
    * each doc into fixed-size chunks with overlap so retrieval never cuts
    * an answer span at a hard boundary): 50-word chunks on a 40-word
    * stride, the final partial chunk clipped at the doc end. One explode,
    * no shuffle before the output sort; chunk identity is pinned by md5 so
    * the gate catches any boundary drift. Downstream, `llm_ann_*` index
    * exactly this chunk shape. */
  val contextChunks: Reg = Reg.sql(
    "llm_context_chunks",
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |chunks AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
      |         w[(CAST(i AS BIGINT)*40+1):(CAST(i AS BIGINT)*40+50)] AS cw
      |  FROM words, UNNEST(range(CAST(ceil(len(w)/40.0) AS BIGINT))) AS t(i))
      |SELECT doc_id, chunk_idx,
      |       CAST(len(cw) AS BIGINT) AS chunk_words,
      |       md5(array_to_string(cw, ' ')) AS chunk_md5
      |FROM chunks ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ", -1).as("w"))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, cast(ceil(size(w) / 40.0) as int) - 1), " +
          "i -> slice(w, i * 40 + 1, 50))")))
      .toDF("doc_id", "chunk_idx", "cw")
      .select(col("doc_id"), col("chunk_idx").cast("long"),
        size(col("cw")).cast("long").as("chunk_words"),
        md5(array_join(col("cw"), " ")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** PII scrubbing (the redaction pass every compliant training pipeline
    * runs before text leaves quarantine): emails and phone-shaped tokens
    * are counted and replaced with typed placeholders — pure per-row
    * regexes fused into the scan, no shuffle before the output sort. The
    * corpus itself is PII-free, so every 5th doc gets a PLANTED
    * contact-line suffix: the gate then pins detection counts and the
    * redacted text (via md5) on docs with and without hits. Patterns use
    * only class/quantifier syntax whose semantics agree between java.regex
    * and RE2 (no lookaround, no \\d shorthand). */
  val piiScrub: Reg = Reg.sql(
    "llm_pii_scrub",
    """WITH t AS (
      |  SELECT doc_id,
      |         text || CASE WHEN doc_id % 5 = 0
      |                 THEN ' contact user' || CAST(doc_id AS VARCHAR)
      |                      || '@example.com or +1-555-'
      |                      || printf('%04d', doc_id % 10000)
      |                 ELSE '' END AS raw
      |  FROM documents)
      |SELECT doc_id,
      |       CAST(len(regexp_extract_all(raw, '[a-z0-9._]+@[a-z0-9.-]+'))
      |            AS BIGINT) AS emails_found,
      |       CAST(len(regexp_extract_all(raw, '[+]1-555-[0-9]{4}'))
      |            AS BIGINT) AS phones_found,
      |       md5(regexp_replace(
      |             regexp_replace(raw, '[a-z0-9._]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
      |             '[+]1-555-[0-9]{4}', '<PHONE>', 'g')) AS clean_md5
      |FROM t ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val emailRe = "[a-z0-9._]+@[a-z0-9.-]+"
    val phoneRe = "[+]1-555-[0-9]{4}"
    val raw = concat(col("text"),
      when(col("doc_id") % 5 === 0,
        format_string(" contact user%d@example.com or +1-555-%04d",
          col("doc_id"), col("doc_id") % 10000)).otherwise(""))
    Tables.documents(s, dir)
      .select(col("doc_id"), raw.as("raw"))
      .select(
        col("doc_id"),
        size(expr(s"regexp_extract_all(raw, '$emailRe', 0)"))
          .cast("bigint").as("emails_found"),
        size(expr(s"regexp_extract_all(raw, '$phoneRe', 0)"))
          .cast("bigint").as("phones_found"),
        md5(regexp_replace(
          regexp_replace(col("raw"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>")).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** Link-graph quality RANK (integer PageRank, [[graft.operators.LinkRank]]):
    * the web-graph curation signal — rank crawled documents by incoming-link
    * mass and keep/weight the top slice. The corpus carries no real link
    * column, so the graph is SYNTHESIZED deterministically from doc ids
    * (both engines state the identical three out-links per doc: a quadratic
    * map — non-bijective, so in-degree varies; a mod-97 hub map — the first
    * 97 docs become hubs; and one affine bijection that keeps the graph
    * strongly connected), which makes the planted structure a real oracle:
    * hub ranks must come out pinned to the last integer. Five synchronous
    * power-iteration rounds, all-integer arithmetic (see LinkRank scaladoc
    * for why that is what makes a cross-engine exact gate possible at all);
    * DuckDB restates the rounds as chained CTEs. Top-50 by rank is a
    * TakeOrderedAndProject — the rank vector itself never leaves the
    * executors. */
  val linkRank: Reg = {
    // Single source of truth for the rank constants: interpolated into BOTH
    // the oracle SQL and the LinkRank.run call, so a default change cannot
    // silently encode two different algorithms (the gate would fail, but it
    // would look like an engine bug instead of constant drift).
    val Iterations = 5
    val Scale = 1000000000L
    val DampNum = 85L
    val DampDen = 100L
    val Teleport = (DampDen - DampNum) * Scale / DampDen
    def duckIter(prev: String): String =
      s"""  SELECT nd.doc_id AS node,
         |         $Teleport + CAST(($DampNum * CAST(COALESCE(SUM(p.c), 0) AS BIGINT)) // $DampDen
         |                          AS BIGINT) AS r
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst, r.r // o.d AS c
         |    FROM edges e
         |    JOIN odeg o ON o.src = e.src
         |    JOIN $prev r ON r.node = e.src) p
         |    ON p.dst = nd.doc_id
         |  GROUP BY nd.doc_id""".stripMargin
    Reg.sql(
      "llm_linkrank",
      // The quadratic map squares (doc_id % c), not doc_id: identical mod c,
      // but the operand is bounded by c so the square stays in BIGINT for
      // any corpus up to ~3.0e9 documents (raw doc_id² overflowed past
      // ~3.04e9 ids — Spark wraps silently, DuckDB raises). Out-degree is a
      // GROUP BY over the synthesized edges, not a restated literal.
      s"""WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM documents),
         |nodes AS (SELECT doc_id FROM documents),
         |edges AS (
         |  SELECT doc_id AS src, ((doc_id % c)*(doc_id % c) + 7) % c AS dst
         |  FROM documents, n
         |  UNION ALL SELECT doc_id, doc_id % 97 FROM documents, n
         |  UNION ALL SELECT doc_id, (doc_id*7+13) % c FROM documents, n),
         |odeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src),
         |it0 AS (SELECT doc_id AS node, CAST($Scale AS BIGINT) AS r FROM documents),
         |it1 AS (
         |${duckIter("it0")}),
         |it2 AS (
         |${duckIter("it1")}),
         |it3 AS (
         |${duckIter("it2")}),
         |it4 AS (
         |${duckIter("it3")}),
         |it5 AS (
         |${duckIter("it4")})
         |SELECT node, r AS rank_scaled FROM it5
         |ORDER BY rank_scaled DESC, node LIMIT 50""".stripMargin) { (s, dir) =>
      // |documents| via a 1-row frame (broadcast by construction — the
      // established 1-row crossJoin precedent, no explicit hint) so the
      // synthesized dst stays a valid doc_id at any SF.
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val n = docs.agg(count(lit(1)).as("c"))
      val withN = docs.crossJoin(n)
      val idModC = col("doc_id") % col("c")
      val edges =
        withN.select(col("doc_id").as("src"),
          ((idModC * idModC + 7) % col("c")).as("dst"))
          .unionByName(withN.select(col("doc_id").as("src"),
            (col("doc_id") % 97).as("dst")))
          .unionByName(withN.select(col("doc_id").as("src"),
            ((col("doc_id") * 7 + 13) % col("c")).as("dst")))
      LinkRank.run(edges, "src", "dst", iterations = Iterations,
        scale = Scale, dampNum = DampNum, dampDen = DampDen)
        .orderBy(col("rank_scaled").desc, col("node"))
        .limit(50)
    }
  }

  /** Triangle counting on the link graph (degree-ordered node-iterator,
    * Suri & Vassilvitskii 2011's MR-friendly form) — the clustering-
    * coefficient / community-density signal next to [[LinkRank]] in a
    * web-graph curation stack. The synthesized graph plants one triangle
    * per document (consecutive-id trio via the +1/+2 affine maps) plus the
    * mod-97 hub map for realistic degree skew.
    *
    * THE scale point: wedges are enumerated at each edge's LOWER-degree
    * endpoint ((deg, id) total order), so hub vertices — whose naive wedge
    * count grows quadratically with corpus size — contribute only their
    * few out-edges toward higher-ordered nodes, and total wedge work is
    * O(E^1.5) instead of Σ deg². The oracle hash-gates n_wedges itself, so
    * a regression to naive enumeration changes the OUTPUT, not just the
    * runtime. All joins are equi-joins on vertex ids; counts are
    * COUNT-only (no SUM, no floats). */
  val linkTriangles: Reg = Reg.sql(
    "llm_link_triangles",
    """WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM documents),
      |ids AS (SELECT doc_id FROM documents),
      |raw AS (
      |  SELECT doc_id AS u, (doc_id + 1) % c AS v FROM ids, n
      |  UNION ALL SELECT doc_id, (doc_id + 2) % c FROM ids, n
      |  UNION ALL SELECT doc_id, doc_id % 97 FROM ids, n),
      |und AS (
      |  SELECT DISTINCT LEAST(u, v) AS a, GREATEST(u, v) AS b
      |  FROM raw WHERE u <> v),
      |deg AS (
      |  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
      |    SELECT a AS node FROM und UNION ALL SELECT b FROM und)
      |  GROUP BY node),
      |dir AS (
      |  SELECT CASE WHEN (da.d, a) < (db.d, b) THEN a ELSE b END AS src,
      |         CASE WHEN (da.d, a) < (db.d, b) THEN b ELSE a END AS dst,
      |         CASE WHEN (da.d, a) < (db.d, b) THEN db.d ELSE da.d END AS ddst
      |  FROM und JOIN deg da ON da.node = a JOIN deg db ON db.node = b),
      |wedge AS (
      |  SELECT e1.src, e1.dst AS v, e2.dst AS w
      |  FROM dir e1 JOIN dir e2 ON e1.src = e2.src
      |  WHERE (e1.ddst, e1.dst) < (e2.ddst, e2.dst)),
      |tri AS (SELECT 1 AS one
      |        FROM wedge JOIN dir ON dir.src = wedge.v AND dir.dst = wedge.w)
      |SELECT (SELECT COUNT(*) FROM und) AS n_edges,
      |       (SELECT COUNT(*) FROM wedge) AS n_wedges,
      |       (SELECT COUNT(*) FROM tri) AS n_triangles""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val n = docs.agg(count(lit(1)).as("c"))
    val withN = docs.crossJoin(n) // 1-row frame: broadcast by construction
    val raw = withN.select(col("doc_id").as("u"), ((col("doc_id") + 1) % col("c")).as("v"))
      .unionByName(withN.select(col("doc_id").as("u"), ((col("doc_id") + 2) % col("c")).as("v")))
      .unionByName(withN.select(col("doc_id").as("u"), (col("doc_id") % 97).as("v")))
    val und = raw.where(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .distinct()
      // consumed three times (degrees, the directed orientation, and the
      // n_edges count): materialize the distinct once
      .localCheckpoint(false)
    val deg = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val aFirst = (col("da.d") < col("db.d")) ||
      (col("da.d") === col("db.d") && col("a") < col("b"))
    val dirE = und
      .join(deg.as("da"), col("da.node") === col("a"))
      .join(deg.as("db"), col("db.node") === col("b"))
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"),
        when(aFirst, col("db.d")).otherwise(col("da.d")).as("ddst"))
      // consumed three times (both wedge sides and the closing probe):
      // without this the degree joins re-run per consumer
      .localCheckpoint(false)
    val e1Lower = (col("e1.ddst") < col("e2.ddst")) ||
      (col("e1.ddst") === col("e2.ddst") && col("e1.dst") < col("e2.dst"))
    val wedge = dirE.as("e1")
      .join(dirE.as("e2"), col("e1.src") === col("e2.src") && e1Lower)
      .select(col("e1.dst").as("v"), col("e2.dst").as("w"))
    val tri = wedge.join(dirE,
      col("src") === col("v") && col("dst") === col("w"))
    und.agg(count(lit(1)).as("n_edges"))
      .crossJoin(wedge.agg(count(lit(1)).as("n_wedges")))
      .crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
  }

  /** Incremental (cross-batch) exact dedup — the ingestion-time shape of
    * `llm_exact_dedup`: an incoming batch is fingerprinted and checked
    * against the already-ingested corpus, so replayed or re-crawled
    * documents are dropped before they enter the lake. The incoming batch
    * is docs with id % 4 = 0 PLUS a replay slice (id % 8 = 1) that by
    * construction already sits in the existing side — an at-least-once
    * feed re-delivery, so `already_present = true` rows exist at every SF
    * on top of any natural content dups. One shuffle on the 32-hex
    * fingerprint (left join, null-check = anti-join with the flag kept);
    * at 100 TB the existing side is a bucketed fingerprint table
    * (`a20` layout) so the probe is exchange-free on that side. */
  val incrementalDedup: Reg = Reg.sql(
    "llm_incremental_dedup",
    """WITH fp AS (SELECT doc_id, md5(lower(text)) AS fp FROM documents),
      |inc AS (SELECT doc_id, fp FROM fp WHERE doc_id % 4 = 0 OR doc_id % 8 = 1),
      |ex AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 4 <> 0)
      |SELECT i.doc_id, i.fp AS fingerprint,
      |       e.fp IS NOT NULL AS already_present
      |FROM inc i LEFT JOIN ex e USING (fp)
      |ORDER BY i.doc_id""".stripMargin) { (s, dir) =>
    val fp = Tables.documents(s, dir)
      .select(col("doc_id"), md5(lower(col("text"))).as("fp"))
    val inc = fp.where(col("doc_id") % 4 === 0 || col("doc_id") % 8 === 1)
    val ex = fp.where(col("doc_id") % 4 =!= 0)
      .select(col("fp").as("ex_fp")).distinct()
    inc.join(ex, col("fp") === col("ex_fp"), "left")
      .select(col("doc_id"), col("fp").as("fingerprint"),
        col("ex_fp").isNotNull.as("already_present"))
      .orderBy("doc_id")
  }

  /** REAL image-header decode under the gate — the multimodal metadata
    * stage upgraded from stub to genuine byte-level container parsing
    * (`graft.llm.ImageCodec`: PNG signature+IHDR with CRC32 verification,
    * JPEG marker walk to SOF, GIF header). Each document plants one asset
    * with closed-form dimensions, encoded as a structurally-valid binary;
    * every 17th asset is CORRUPTED (PNG: a bit-flip in the IHDR dims that
    * only the CRC can catch; JPEG/GIF: broken magic) and must parse as
    * invalid. DuckDB states the construct∘parse identity: planted dims for
    * intact assets, zeros for corrupt ones — so a parser that skips CRC
    * verification, misreads endianness (GIF is LE, PNG/JPEG BE), or
    * mis-walks JPEG segments flips the hash. Pixel decompression stays
    * env-bounded; header metadata is what resolution/aspect/format gates
    * actually consume. */
  val imageMeta: Reg = Reg.sql(
    "llm_image_meta",
    """SELECT doc_id,
      |  CASE WHEN doc_id % 17 = 0 THEN 'unknown'
      |       WHEN doc_id % 3 = 0 THEN 'png'
      |       WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'gif' END AS fmt,
      |  CAST(CASE WHEN doc_id % 17 = 0 THEN 0
      |       ELSE 16 * (1 + doc_id % 60) END AS BIGINT) AS width,
      |  CAST(CASE WHEN doc_id % 17 = 0 THEN 0
      |       ELSE 16 * (1 + doc_id % 40) END AS BIGINT) AS height,
      |  doc_id % 17 <> 0 AS valid
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id")).as[Long].map { id =>
      val w = (16 * (1 + id % 60)).toInt
      val h = (16 * (1 + id % 40)).toInt
      val bytes = (id % 3) match {
        case 0 => graft.llm.ImageCodec.encodePng(w, h,
          Array.tabulate(8)(j => ((id + j) % 251).toByte))
        case 1 => graft.llm.ImageCodec.encodeJpeg(w, h)
        case _ => graft.llm.ImageCodec.encodeGif(w, h)
      }
      if (id % 17 == 0) {
        // PNG: flip inside the IHDR dims — only CRC verification catches
        // it; JPEG/GIF: break the magic — only sniffing catches it.
        if (id % 3 == 0) bytes(20) = (bytes(20) ^ 0x5a).toByte
        else bytes(0) = (bytes(0) ^ 0x5a).toByte
      }
      val m = graft.llm.ImageCodec.parse(bytes)
      (id, m.format, m.width.toLong, m.height.toLong, m.valid)
    }.toDF("doc_id", "fmt", "width", "height", "valid").orderBy("doc_id")
  }

  /** REAL audio-header decode under the gate — `llm_image_meta`'s
    * discipline for sound containers (`graft.llm.AudioCodec`: RIFF/WAVE
    * chunk walk with declared-size consistency checks, FLAC STREAMINFO
    * bit-field unpack). Each document plants one structurally-valid asset
    * with closed-form sample rate / channels / sample count; every 17th is
    * corrupted DEEP in the container (WAV: the declared RIFF size no
    * longer matches the byte count; FLAC: the STREAMINFO block length
    * field) so only a parser that actually verifies structure — not one
    * that sniffs magic — rejects it. DuckDB states the construct∘parse
    * identity including the floor-divided duration_ms, so an endianness
    * mix-up (RIFF is LE, FLAC BE) or a bit-offset slip flips the hash. */
  val audioMeta: Reg = Reg.sql(
    "llm_audio_meta",
    """SELECT doc_id,
      |  CASE WHEN doc_id % 17 = 0 THEN 'unknown'
      |       WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'flac' END AS fmt,
      |  CAST(CASE WHEN doc_id % 17 = 0 THEN 0
      |       ELSE 8000 * (1 + doc_id % 5) END AS BIGINT) AS sample_rate,
      |  CAST(CASE WHEN doc_id % 17 = 0 THEN 0
      |       ELSE 1 + (doc_id // 2) % 2 END AS BIGINT) AS channels,
      |  CAST(CASE WHEN doc_id % 17 = 0 THEN 0
      |       ELSE (40 * (1 + doc_id % 50) * 1000) // (8000 * (1 + doc_id % 5))
      |       END AS BIGINT) AS duration_ms,
      |  doc_id % 17 <> 0 AS valid
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id")).as[Long].map { id =>
      val sr = (8000 * (1 + id % 5)).toInt
      val ch = (1 + (id / 2) % 2).toInt
      val n = (40 * (1 + id % 50)).toInt
      val bytes =
        if (id % 2 == 0) graft.llm.AudioCodec.encodeWav(sr, ch, n)
        else graft.llm.AudioCodec.encodeFlac(sr, ch, n.toLong)
      if (id % 17 == 0) {
        // WAV: lie about the RIFF size (only the consistency check sees
        // it); FLAC: bend the STREAMINFO block length (only the block
        // header validation sees it) — magic stays intact in both.
        if (id % 2 == 0) bytes(4) = (bytes(4) ^ 0x5a).toByte
        else bytes(6) = (bytes(6) ^ 0x5a).toByte
      }
      val m = graft.llm.AudioCodec.parse(bytes)
      (id, m.format, m.sampleRate.toLong, m.channels.toLong, m.durationMs,
        m.valid)
    }.toDF("doc_id", "fmt", "sample_rate", "channels", "duration_ms", "valid")
      .orderBy("doc_id")
  }

  /** REAL full PNG pixel decode gate — the deepest of the media gates:
    * every doc plants a complete, spec-valid PNG (raw RGB run through
    * genuine per-row scanline filters — row y uses type (y+id)%5, so all
    * five reconstruction paths execute — then zlib-DEFLATED with the
    * JVM's Deflater), and `ImageCodec.decodePngPixels` reverses the whole
    * stack: chunk CRC verification, IDAT inflate, unfiltering, integer
    * BT.601 luma (r·299+g·587+b·114) stats. The oracle restates the luma
    * of every pixel closed-form from the planted byte pattern — decode
    * must reproduce each pixel VALUE exactly through compression and all
    * filter types for the hash to match. */
  val pngPixels: Reg = Reg.sql(
    "llm_png_pixels",
    """WITH d AS (SELECT doc_id, 4 + doc_id % 8 AS w, 3 + doc_id % 4 AS h
      |           FROM documents),
      |j AS (SELECT doc_id, w, h, UNNEST(generate_series(0, w * h - 1)) AS j
      |      FROM d),
      |l AS (SELECT doc_id, w, h,
      |        ((3*j*37 + doc_id) % 256) * 299
      |        + (((3*j + 1)*37 + doc_id) % 256) * 587
      |        + (((3*j + 2)*37 + doc_id) % 256) * 114 AS luma
      |      FROM j)
      |SELECT doc_id, CAST(MAX(w * h) AS BIGINT) AS n_pixels,
      |  CAST(SUM(luma) AS BIGINT) AS sum_luma1000,
      |  CAST(MIN(luma) AS BIGINT) AS min_luma1000,
      |  CAST(MAX(luma) AS BIGINT) AS max_luma1000
      |FROM l GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id")).as[Long].map { id =>
      val w = (4 + id % 8).toInt
      val h = (3 + id % 4).toInt
      val rgb = Array.tabulate(w * h * 3)(i => ((i * 37 + id) % 256).toByte)
      val png = graft.llm.ImageCodec.encodePngPixels(
        w, h, rgb, y => ((y + id) % 5).toInt)
      val st = graft.llm.ImageCodec.decodePngPixels(png)
      (id, st.nPixels, st.sumLuma1000, st.minLuma1000.toLong,
        st.maxLuma1000.toLong)
    }.toDF("doc_id", "n_pixels", "sum_luma1000", "min_luma1000",
      "max_luma1000")
      .orderBy("doc_id")
  }

  /** REAL image RESIZE — the normalize-before-training pass with actual
    * pixel geometry, no stub left in the image path: every doc plants a
    * real PNG (closed-form pixels, varied dims 8..14 × 8..12, all five
    * scanline filters), which is content-decoded (CRC/inflate/unfilter),
    * nearest-neighbor resampled to 6×16 — downscale in x, UPSCALE in y,
    * both directions in one op — re-encoded as a full PNG, and decoded
    * AGAIN for the emitted checksum, so the gate covers the whole
    * encode→decode→resample→encode→decode round trip. The floor mapping
    * (sx = x·w div tw, sy = y·h div th) is exact integer arithmetic, so
    * the oracle restates the entire resampled pixel grid from the planted
    * closed form and checks a position-weighted checksum (order-
    * sensitive: swapped pixels cannot cancel). 100 TB shape: 1→1
    * partition-parallel map, bytes never shuffle. */
  val imageResize: Reg = Reg.sql(
    "llm_image_resize",
    """WITH d AS (SELECT doc_id, 8 + doc_id % 7 AS w, 8 + doc_id % 5 AS h
      |           FROM documents),
      |e AS (SELECT doc_id, w, h,
      |             UNNEST(generate_series(0, 287)) AS j FROM d),
      |px AS (
      |  SELECT doc_id,
      |         SUM(((doc_id * 3 +
      |               ((((j // 3) // 6) * h // 16) * w
      |                 + (((j // 3) % 6) * w // 6)) * 3 * 7
      |               + (j % 3) * 7) % 251) * (j + 1)) AS cs
      |  FROM e GROUP BY doc_id)
      |SELECT doc_id, CAST(6 AS BIGINT) AS out_w, CAST(16 AS BIGINT) AS out_h,
      |       CAST(cs AS BIGINT) AS checksum
      |FROM px ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id")).as[Long].map { id =>
      val w = (8 + id % 7).toInt
      val h = (8 + id % 5).toInt
      val rgb = Array.tabulate(w * h * 3)(i => ((id * 3 + i.toLong * 7) % 251).toByte)
      val png = graft.llm.ImageCodec.encodePngPixels(
        w, h, rgb, y => ((y + id) % 5).toInt)
      val resized = graft.llm.ImageCodec.pngResizeNearest(png, 6, 16)
        .getOrElse(Array.empty[Byte])
      val (ow, oh, cs) = graft.llm.ImageCodec.pngWeightedChecksum(resized)
        .getOrElse((0, 0, -1L))
      (id, ow.toLong, oh.toLong, cs)
    }.toDF("doc_id", "out_w", "out_h", "checksum")
      .orderBy("doc_id")
  }

  /** Perceptual-hash IMAGE dedup — the dedup×multimodal cell: every doc
    * plants a real PNG (the llm_png_pixels construction at 8..12 × 8..10
    * px), every 5th doc also plants a BYTE-LEVEL DIFFERENT re-encode of
    * the same pixels (each row filtered with the NEXT filter type, then
    * re-deflated — sha-based exact dedup provably misses it), and dedup
    * runs on the average-hash of the DECODED content: one bit per pixel
    * (luma·n > sum — exact integer), grouped by (dims, hash) with an
    * id_a < id_b bucket self-join, exactly the LSH-family pair shape.
    * ≥64 hash bits make accidental collisions vanish, and the gate would
    * hash-catch one deterministically if it existed. Decode is the full
    * CRC/inflate/unfilter stack per image; the oracle is the closed-form
    * planted pair list (the simhash precedent). */
  val imagePhashDedup: Reg = Reg.sql(
    "llm_image_phash_dedup",
    """SELECT doc_id AS id_a, doc_id + 30000000 AS id_b
      |FROM documents WHERE doc_id % 5 = 0 ORDER BY id_a, id_b""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      val hashed = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .flatMap { id =>
          if (id % 5 == 0) Seq((id, id, 0), (id + 30000000L, id, 1))
          else Seq((id, id, 0))
        }
        .map { case (imgId, srcId, shift) =>
          val w = (8 + srcId % 5).toInt
          val h = (8 + srcId % 3).toInt
          // FULL splitmix64-mixed per-id content: aHash is deliberately
          // invariant to uniform brightness offsets, so any pattern where
          // id enters additively (or through one multiply, which leaves an
          // arithmetic progression in the extracted bits) makes unrelated
          // same-dims images collide by construction
          val rgb = Array.tabulate(w * h * 3) { i =>
            var z = srcId * 1000003L + i + 0x9E3779B97F4A7C15L
            z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
            z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
            ((z ^ (z >>> 31)) & 0xffL).toByte
          }
          val png = graft.llm.ImageCodec.encodePngPixels(
            w, h, rgb, y => ((y + srcId + shift) % 5).toInt)
          val hash = graft.llm.ImageCodec.pngAHash(png).getOrElse("")
          (imgId, w.toLong, h.toLong, hash)
        }.toDF("img_id", "w", "h", "hash")
        .localCheckpoint(false) // both sides of the bucket self-join
      hashed.as("x").join(hashed.as("y"),
        col("x.w") === col("y.w") && col("x.h") === col("y.h") &&
          col("x.hash") === col("y.hash") &&
          col("x.img_id") < col("y.img_id"))
        .select(col("x.img_id").as("id_a"), col("y.img_id").as("id_b"))
        .orderBy("id_a", "id_b")
  }

  /** REAL full GIF pixel decode gate — LZW is pure bit logic, so GIF
    * content decode needs no library either: every doc plants a complete
    * GIF (256-entry closed-form palette, indexed pixels compressed by a
    * genuine dictionary-building LZW encoder with LSB-first packing and
    * 9→12-bit width growth) and `ImageCodec.decodeGifPixels` reverses it
    * — header walk, extension skipping, sub-block reassembly, general LZW
    * decode (clear/end, the KwKwK self-reference, width timing), palette
    * lookup, integer BT.601 luma. The oracle restates each pixel's luma
    * closed-form from the planted index/palette arithmetic: the hash
    * matches only if LZW reproduces every index exactly. */
  val gifPixels: Reg = Reg.sql(
    "llm_gif_pixels",
    """WITH d AS (SELECT doc_id, 4 + doc_id % 8 AS w, 3 + doc_id % 4 AS h
      |           FROM documents),
      |j AS (SELECT doc_id, w, h, UNNEST(generate_series(0, w * h - 1)) AS j
      |      FROM d),
      |l AS (SELECT doc_id, w, h,
      |        (((j*37 + doc_id) % 256) * 7 % 256) * 299
      |        + (((j*37 + doc_id) % 256) * 13 % 256) * 587
      |        + (((j*37 + doc_id) % 256) * 29 % 256) * 114 AS luma
      |      FROM j)
      |SELECT doc_id, CAST(MAX(w * h) AS BIGINT) AS n_pixels,
      |  CAST(SUM(luma) AS BIGINT) AS sum_luma1000,
      |  CAST(MIN(luma) AS BIGINT) AS min_luma1000,
      |  CAST(MAX(luma) AS BIGINT) AS max_luma1000
      |FROM l GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id")).as[Long].map { id =>
      val w = (4 + id % 8).toInt
      val h = (3 + id % 4).toInt
      val idx = Array.tabulate(w * h)(j => ((j * 37 + id) % 256).toByte)
      val pal = Array.tabulate[Byte](768) { i =>
        val c = i / 3
        ((i % 3 match {
          case 0 => c * 7; case 1 => c * 13; case _ => c * 29
        }) % 256).toByte
      }
      val st = graft.llm.ImageCodec.decodeGifPixels(
        graft.llm.ImageCodec.encodeGifPixels(w, h, idx, pal))
      (id, st.nPixels, st.sumLuma1000, st.minLuma1000.toLong,
        st.maxLuma1000.toLong)
    }.toDF("doc_id", "n_pixels", "sum_luma1000", "min_luma1000",
      "max_luma1000")
      .orderBy("doc_id")
  }

  /** REAL full baseline JPEG decode gate — Huffman entropy decode,
    * dequantization, and the IDCT are pure number logic, so JPEG content
    * decode needs no library either (the last image format; only VIDEO
    * content decode remains env-bounded). Every doc plants a complete
    * baseline JPEG (`ImageCodec.encodeJpegPixels`: real forward DCT,
    * quantization, zigzag, differential-DC/run-length-AC Huffman with
    * byte stuffing) and `decodeJpegPixels` reverses it: DHT-built Huffman
    * tables, MCU entropy decode, dequant, IDCT, YCbCr→RGB, ×1000 BT.601
    * luma. JPEG is lossy, so the gate plants the closed-form-exact
    * subfamily: TILE-CONSTANT images (every 8×8 block one luma value) with
    * DC quant step 8 — a constant block is DC-only and round(8c/8)=c makes
    * the round trip bit-exact — alternating grayscale and 3-component
    * neutral-chroma (Cb=Cr=128 ⇒ R=G=B=Y exactly) per doc so both the
    * single- and interleaved-MCU decode paths are under the hash. */
  val jpegPixels: Reg = Reg.sql(
    "llm_jpeg_pixels",
    """WITH d AS (SELECT doc_id, 1 + doc_id % 3 AS tx_n, 1 + doc_id % 2 AS ty_n
      |           FROM documents),
      |t AS (SELECT doc_id, tx_n, ty_n,
      |        UNNEST(generate_series(0, tx_n * ty_n - 1)) AS tile
      |      FROM d),
      |l AS (SELECT doc_id, tx_n, ty_n,
      |        ((doc_id * 31 + (tile % tx_n) * 17 + (tile // tx_n) * 29) % 256)
      |          * 1000 AS luma
      |      FROM t)
      |SELECT doc_id, CAST(MAX(tx_n * ty_n * 64) AS BIGINT) AS n_pixels,
      |  CAST(SUM(luma * 64) AS BIGINT) AS sum_luma1000,
      |  CAST(MIN(luma) AS BIGINT) AS min_luma1000,
      |  CAST(MAX(luma) AS BIGINT) AS max_luma1000
      |FROM l GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id")).as[Long].map { id =>
      val w = 8 * (1 + id % 3).toInt
      val h = 8 * (1 + id % 2).toInt
      val yPlane = Array.tabulate(w * h) { p =>
        val tx = (p % w) / 8
        val ty = (p / w) / 8
        ((id * 31 + tx * 17 + ty * 29) % 256).toByte
      }
      val planes =
        if (id % 2 == 0) Array(yPlane)
        else Array(yPlane, Array.fill(w * h)(128.toByte),
          Array.fill(w * h)(128.toByte))
      val st = graft.llm.ImageCodec.decodeJpegPixels(
        graft.llm.ImageCodec.encodeJpegPixels(w, h, planes))
      (id, st.nPixels, st.sumLuma1000, st.minLuma1000.toLong,
        st.maxLuma1000.toLong)
    }.toDF("doc_id", "n_pixels", "sum_luma1000", "min_luma1000",
      "max_luma1000")
      .orderBy("doc_id")
  }

  /** REAL video CONTENT decode gate — the residual "video decode is
    * env-bounded" claim narrowed to inter-frame codecs only: Motion JPEG
    * frames are complete baseline JPEGs, so MJPEG-AVI content decode is
    * pure JVM logic end to end. Every doc plants a genuine MJPEG AVI
    * (RIFF hdrl/strl/movi, each `00dc` chunk a real
    * `ImageCodec.encodeJpegPixels` JPEG) and
    * `VideoCodec.decodeAviMjpegFrames` walks the container, FRAME-SAMPLES
    * (every stride-th frame — skipped frames are never entropy-decoded,
    * the multimodal pipeline's sampling op), runs the full baseline JPEG
    * decoder per sampled frame, and aggregates ×1000 BT.601 luma across
    * frames. Frames are tile-constant with DC quant step 8, so the whole
    * chain is bit-exact and the oracle states every sampled tile's luma
    * closed-form. */
  val videoFrames: Reg = Reg.sql(
    "llm_video_frames",
    """WITH d AS (SELECT doc_id, 2 + doc_id % 3 AS nf, 1 + doc_id % 2 AS stride
      |           FROM documents),
      |f AS (SELECT doc_id, nf, stride, UNNEST(generate_series(0, nf - 1)) AS fi
      |      FROM d),
      |sf AS (SELECT doc_id, fi FROM f WHERE fi % stride = 0),
      |t AS (SELECT doc_id, fi, UNNEST([0, 1]) AS tx FROM sf),
      |l AS (SELECT doc_id, fi,
      |        ((doc_id * 13 + fi * 7 + tx * 29) % 256) * 1000 AS luma
      |      FROM t)
      |SELECT doc_id,
      |  CAST(COUNT(DISTINCT fi) AS BIGINT) AS n_frames,
      |  CAST(COUNT(*) * 64 AS BIGINT) AS n_pixels,
      |  CAST(SUM(luma * 64) AS BIGINT) AS sum_luma1000,
      |  CAST(MIN(luma) AS BIGINT) AS min_luma1000,
      |  CAST(MAX(luma) AS BIGINT) AS max_luma1000
      |FROM l GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id")).as[Long].map { id =>
      val nf = (2 + id % 3).toInt
      val stride = (1 + id % 2).toInt
      val frames = (0 until nf).map { fi =>
        val y = Array.tabulate(16 * 8) { p =>
          val tx = (p % 16) / 8
          ((id * 13 + fi * 7 + tx * 29) % 256).toByte
        }
        graft.llm.ImageCodec.encodeJpegPixels(16, 8, Array(y))
      }
      val avi = graft.llm.VideoCodec.encodeAviMjpeg(40000, 16, 8, frames)
      val st = graft.llm.VideoCodec.decodeAviMjpegFrames(avi, stride)
      (id, st.nFrames, st.nPixels, st.sumLuma1000,
        st.minLuma1000.toLong, st.maxLuma1000.toLong)
    }.toDF("doc_id", "n_frames", "n_pixels", "sum_luma1000",
      "min_luma1000", "max_luma1000")
      .orderBy("doc_id")
  }

  /** REAL sample-level PCM feature extraction — past metadata into actual
    * signal math: every doc plants a genuine 16-bit mono WAV
    * (`AudioCodec.encodeWav`, deterministic byte pattern), and
    * `AudioCodec.pcmStats` decodes the little-endian PCM stream and
    * computes energy (Σ sample², exact integer) and the zero-crossing
    * count — the silence/tone/speech gate features an audio curation
    * filter runs. The oracle re-derives every sample VALUE closed-form
    * from the byte-pattern arithmetic (unsigned-pair → signed 16-bit) and
    * restates both sums, so the gate proves the byte-level sample decode
    * itself, not just plumbing. rms_floor = ⌊√(sum_sq div n)⌋: integer
    * div first, then one correctly-rounded IEEE sqrt — identical both
    * engines. */
  val pcmFeatures: Reg = Reg.sql(
    "llm_pcm_features",
    """WITH d AS (SELECT doc_id, 40 * (1 + doc_id % 50) AS n FROM documents),
      |k AS (SELECT doc_id, n, UNNEST(generate_series(0, n - 1)) AS k FROM d),
      |v AS (SELECT doc_id, n, k,
      |        CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
      |      FROM (SELECT doc_id, n, k,
      |              (((2*k+1)*31 + 7) % 251) * 256 + ((2*k*31 + 7) % 251) AS u
      |            FROM k)),
      |p AS (SELECT doc_id, n, k, s,
      |        LAG(s) OVER (PARTITION BY doc_id ORDER BY k) AS ps FROM v)
      |SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_samples,
      |  CAST(SUM(s * s) AS BIGINT) AS sum_sq,
      |  CAST(FLOOR(SQRT(CAST(SUM(s * s) // MAX(n) AS DOUBLE))) AS BIGINT)
      |    AS rms_floor,
      |  CAST(SUM(CASE WHEN ps IS NOT NULL AND
      |                     ((ps < 0 AND s > 0) OR (ps > 0 AND s < 0))
      |                THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
      |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id")).as[Long].map { id =>
      val sr = (8000 * (1 + id % 5)).toInt
      val n = (40 * (1 + id % 50)).toInt
      val st = graft.llm.AudioCodec.pcmStats(
        graft.llm.AudioCodec.encodeWav(sr, 1, n))
      val rms = math.floor(math.sqrt((st.sumSq / st.nSamples).toDouble)).toLong
      (id, st.nSamples, st.sumSq, rms, st.zeroCrossings)
    }.toDF("doc_id", "n_samples", "sum_sq", "rms_floor", "zero_crossings")
      .orderBy("doc_id")
  }

  /** REAL spectral audio features — the mel-spectrogram front-end math on
    * actually-decoded PCM, upgrading the audio path from per-clip stats
    * (llm_pcm_features: energy, zero crossings) to per-BIN content: every
    * doc plants a WAV whose 16-bit samples follow a closed form (lengths
    * vary 16–64, so 1–4 frames), the engine decodes the PCM out of the
    * real RIFF container and runs an 8-bin fixed-point DFT per
    * non-overlapping 16-sample frame (integer multiply-accumulate against
    * the shared floor(trig·1024) literal tables — no float, no trig at
    * query time), and the oracle restates the identical algebra from the
    * planted closed form. 100 TB shape: 1→N(=8) partition-parallel map,
    * audio bytes never shuffle, output is 8 rows per asset. */
  val audioSpectrum: Reg = Reg.sql(
    "llm_audio_spectrum",
    """WITH tab(j, c, si) AS (VALUES
      |  (0, 1024, 0), (1, 946, 391), (2, 724, 724), (3, 391, 946),
      |  (4, 0, 1024), (5, -392, 946), (6, -725, 724), (7, -947, 391),
      |  (8, -1024, 0), (9, -947, -392), (10, -725, -725), (11, -392, -947),
      |  (12, -1, -1024), (13, 391, -947), (14, 724, -725), (15, 946, -392)),
      |d AS (SELECT doc_id, 16 * (1 + doc_id % 4) AS n FROM documents),
      |k AS (SELECT doc_id, UNNEST(generate_series(0, n - 1)) AS k FROM d),
      |s AS (SELECT doc_id, k // 16 AS f, k % 16 AS j,
      |             ((doc_id * 7 + k * 13) % 201) - 100 AS v
      |      FROM k),
      |b AS (SELECT UNNEST(generate_series(0, 7)) AS bin),
      |x AS (SELECT s.doc_id, s.f, b.bin, s.v, t.c, t.si
      |      FROM s, b
      |      JOIN tab t ON t.j = (b.bin * s.j) % 16),
      |p AS (SELECT doc_id, f, bin,
      |             CAST(SUM(v * c) AS BIGINT) AS re,
      |             CAST(SUM(v * si) AS BIGINT) AS im
      |      FROM x GROUP BY doc_id, f, bin)
      |SELECT doc_id, CAST(bin AS BIGINT) AS bin,
      |       CAST(SUM(re * re + im * im) AS BIGINT) AS power
      |FROM p GROUP BY doc_id, bin ORDER BY doc_id, bin""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir).select(col("doc_id")).as[Long].flatMap { id =>
        val n = (16 * (1 + id % 4)).toInt
        val samples = Array.tabulate(n)(k =>
          (((id * 7 + k.toLong * 13) % 201) - 100).toShort)
        val wav = graft.llm.AudioCodec.encodeWavSamples(8000, 1, samples)
        graft.llm.AudioCodec.pcmSpectrum16(wav)
          .map(_.zipWithIndex.map { case (p, bin) => (id, bin.toLong, p) }.toSeq)
          .getOrElse(Seq((id, -1L, -1L)))
      }.toDF("doc_id", "bin", "power")
        .orderBy("doc_id", "bin")
  }

  /** REAL video-metadata decode gate — third leg of the media family
    * (llm_image_meta: PNG/JPEG/GIF; llm_audio_meta: WAV/FLAC): a planted
    * binary corpus of genuine ISO BMFF/MP4 files (box walk, mvhd
    * timescale/duration, tkhd 16.16 fixed-point dims) and AVI files (RIFF
    * `LIST hdrl`/`avih` main header), with every 17th file corrupted in
    * its SIZE field only (magic intact — only declared-size consistency
    * catches it). The oracle states the construct∘parse identity in
    * closed form; truncating Long division on non-negative operands
    * matches DuckDB's floor `//` for both duration formulas. */
  val videoMeta: Reg = Reg.sql(
    "llm_video_meta",
    """SELECT doc_id,
      |  CASE WHEN doc_id % 17 = 0 THEN 'unknown'
      |       WHEN doc_id % 2 = 0 THEN 'mp4' ELSE 'avi' END AS fmt,
      |  CAST(CASE WHEN doc_id % 17 = 0 THEN 0
      |       WHEN doc_id % 2 = 0 THEN 160 * (1 + doc_id % 8)
      |       ELSE 320 * (1 + doc_id % 4) END AS BIGINT) AS width,
      |  CAST(CASE WHEN doc_id % 17 = 0 THEN 0
      |       WHEN doc_id % 2 = 0 THEN 120 * (1 + doc_id % 8)
      |       ELSE 240 * (1 + doc_id % 4) END AS BIGINT) AS height,
      |  CAST(CASE WHEN doc_id % 17 = 0 THEN 0
      |       WHEN doc_id % 2 = 0 THEN (500 * (1 + doc_id % 60) * 1000)
      |                               // (1000 * (1 + doc_id % 4))
      |       ELSE (33333 * 24 * (1 + doc_id % 50)) // 1000
      |       END AS BIGINT) AS duration_ms,
      |  doc_id % 17 <> 0 AS valid
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id")).as[Long].map { id =>
      val bytes =
        if (id % 2 == 0)
          graft.llm.VideoCodec.encodeMp4(
            timescale = (1000 * (1 + id % 4)).toInt,
            durationTicks = 500 * (1 + id % 60),
            width = (160 * (1 + id % 8)).toInt,
            height = (120 * (1 + id % 8)).toInt)
        else
          graft.llm.VideoCodec.encodeAvi(
            usPerFrame = 33333,
            totalFrames = 24 * (1 + id % 50),
            width = (320 * (1 + id % 4)).toInt,
            height = (240 * (1 + id % 4)).toInt)
      if (id % 17 == 0) {
        // bend only a SIZE field (magic stays intact): MP4 → the moov
        // box's declared size; AVI → the RIFF size. Only declared-size
        // consistency checking catches either.
        if (id % 2 == 0) bytes(23) = (bytes(23) ^ 0x5a).toByte
        else bytes(4) = (bytes(4) ^ 0x5a).toByte
      }
      val m = graft.llm.VideoCodec.parse(bytes)
      (id, m.format, m.width.toLong, m.height.toLong, m.durationMs, m.valid)
    }.toDF("doc_id", "fmt", "width", "height", "duration_ms", "valid")
      .orderBy("doc_id")
  }

  /** Duplicated-span coverage (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better"): for every SLIDING 8-word span
    * position in a document, is that span's text also present in at least
    * one OTHER document? Reported as per-doc covered-position counts and
    * permille — the measurement a substring-dedup pass is driven by.
    * Distinct from `llm_segment_dedup` (disjoint segments, first-occurrence
    * REMOVAL) and `llm_ngram_novelty` (distinct grams vs lower-id docs):
    * this scores every position against cross-doc document frequency.
    * Scale: the gram→df frame is vocabulary-sized (grows sub-linearly in
    * the corpus); positions join it on the gram key — one wide shuffle, no
    * pair generation at all, which is why the measurement pass is cheap
    * enough to run on every crawl snapshot. */
  val dupSpanCoverage: Reg = Reg.sql(
    "llm_dup_span_coverage",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |spans AS (
      |  SELECT doc_id,
      |         UNNEST(list_transform(generate_series(1, len(w) - 7),
      |                  i -> array_to_string(w[i:i+7], ' '))) AS gram
      |  FROM w WHERE len(w) >= 8),
      |df AS (SELECT gram, COUNT(DISTINCT doc_id) AS df FROM spans GROUP BY gram)
      |SELECT spans.doc_id, COUNT(*) AS n_spans,
      |       CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS dup_spans,
      |       CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 1000
      |            // COUNT(*) AS BIGINT) AS dup_permille
      |FROM spans JOIN df USING (gram)
      |GROUP BY spans.doc_id ORDER BY spans.doc_id""".stripMargin) { (s, dir) =>
    val spans = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ", -1).as("w"))
      .where(size(col("w")) >= 8)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(w) - 7),
          |  i -> array_join(slice(w, i, 8), ' '))""".stripMargin)).as("gram"))
      // consumed by the df derivation AND the coverage join — without the
      // cut the 8-word gram explode runs twice (guide §5)
      .localCheckpoint(false)
    val df = spans.distinct().groupBy("gram")
      .agg(count(lit(1)).as("df")) // distinct (doc, gram) first → COUNT == COUNT(DISTINCT doc)
    spans.join(df, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("dup_spans"))
      // positive operands: truncating DIV == DuckDB floor //
      .withColumn("dup_permille",
        expr("CAST(dup_spans * 1000 DIV n_spans AS BIGINT)"))
      .orderBy("doc_id")
  }

  /** Duplicated-span REMOVAL — the action half of Lee et al. substring
    * dedup (`llm_dup_span_coverage` is the measurement half): every token
    * position covered by ANY 8-word span whose text occurs in ≥ 2
    * documents is dropped, and the residual document is reassembled in
    * original token order. Exact-span semantics (not segment- or
    * first-occurrence-based like `llm_segment_dedup`): a covered position
    * is covered in EVERY document carrying the span, so shared boilerplate
    * vanishes everywhere at once.
    *
    * Scale shape: spans join the vocabulary-sized gram→df frame (no pair
    * generation); duplicated spans expand to ≤ 8 covered positions each;
    * the rebuild is one anti-join on (doc, pos) plus one group-back with a
    * position-sorted array — every stage an equi-join or keyed aggregate
    * on corpus-linear frames. Fully-covered documents survive as empty
    * strings (left join from the corpus), which downstream length gates
    * then drop — the pipeline-visible difference between "document
    * removed" and "document emptied" that Lee et al. call out. */
  val dupSpanStrip: Reg = Reg.sql(
    "llm_dup_span_strip",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sp AS (SELECT doc_id, UNNEST(list_transform(generate_series(1, len(w) - 7),
      |         i -> {'i': i, 'gram': array_to_string(w[i:i+7], ' ')})) AS s
      |       FROM w WHERE len(w) >= 8),
      |spans AS (SELECT doc_id, s.i AS i, s.gram AS gram FROM sp),
      |df AS (SELECT gram, COUNT(DISTINCT doc_id) AS df FROM spans GROUP BY gram),
      |dup AS (SELECT DISTINCT doc_id, pos FROM (
      |          SELECT spans.doc_id, UNNEST(generate_series(i, i + 7)) AS pos
      |          FROM spans JOIN df USING (gram) WHERE df >= 2)),
      |tok2 AS (SELECT doc_id, t.pos AS pos, t.tok AS tok FROM (
      |           SELECT doc_id, UNNEST(list_transform(generate_series(1, len(w)),
      |             j -> {'pos': j, 'tok': w[j]})) AS t FROM w)),
      |kept AS (SELECT tok2.* FROM tok2 ANTI JOIN dup USING (doc_id, pos))
      |SELECT w.doc_id, CAST(len(w.w) AS BIGINT) AS n_tokens,
      |       CAST(COUNT(kept.pos) AS BIGINT) AS kept_tokens,
      |       COALESCE(string_agg(kept.tok, ' ' ORDER BY kept.pos), '')
      |         AS stripped_text
      |FROM w LEFT JOIN kept ON kept.doc_id = w.doc_id
      |GROUP BY w.doc_id, len(w.w) ORDER BY w.doc_id""".stripMargin) { (s, dir) =>
    val w = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ", -1).as("w"))
    val spans = w.where(size(col("w")) >= 8)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(w) - 7),
          |  i -> struct(i AS i, array_join(slice(w, i, 8), ' ') AS gram))"""
          .stripMargin)).as("s"))
      .select(col("doc_id"), col("s.i").as("i"), col("s.gram").as("gram"))
    val dfG = spans.select("doc_id", "gram").distinct()
      .groupBy("gram").agg(count(lit(1)).as("df"))
    val dup = spans.join(dfG.where(col("df") >= 2), "gram")
      .select(col("doc_id"), explode(expr("sequence(i, i + 7)")).as("pos"))
      .distinct()
    val toks = w.select(col("doc_id"), explode(expr(
      "transform(sequence(1, size(w)), j -> struct(j AS pos, element_at(w, j) AS tok))"))
      .as("t"))
      .select(col("doc_id"), col("t.pos").as("pos"), col("t.tok").as("tok"))
    val keptAgg = toks.join(dup, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("kept_tokens"),
        array_join(expr(
          "transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)"),
          " ").as("stripped_text"))
    w.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
      .join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("stripped_text"), lit("")).as("stripped_text"))
      .orderBy("doc_id")
  }

  /** Community detection on the link graph via deterministic synchronous
    * label propagation ([[graft.operators.LabelPropagation]], 3 rounds) —
    * the domain/community-mix signal next to LinkRank and triangle
    * counting in a web-curation stack. The synthesized graph plants
    * 10-node chain blocks (intra-community edges) plus the mod-97 hub map
    * (cross-community bridges with real degree skew), symmetrized and
    * dedup'd so neighbor-label FREQUENCIES are well defined. The oracle
    * unrolls the identical three rounds as chained CTEs with the same
    * max-of-(cnt, -label) argmax, so every intermediate tie-break is
    * pinned cross-engine. Output is the community histogram — label
    * frames never leave the executors. */
  val communityLpa: Reg = {
    def duckIter(k: Int): String =
      s"""it$k AS (
         |  SELECT v, -mx[2] AS label FROM (
         |    SELECT nb.v AS v, MAX([nb.cnt, -nb.label]) AS mx FROM (
         |      SELECT e.v, l.label, COUNT(*) AS cnt
         |      FROM edges e JOIN it${k - 1} l ON l.v = e.u
         |      GROUP BY e.v, l.label) nb
         |    GROUP BY nb.v) t)""".stripMargin
    Reg.sql(
      "llm_community_lpa",
      s"""WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM documents),
         |raw AS (
         |  SELECT doc_id AS u, doc_id + 1 AS v FROM documents, n
         |  WHERE (doc_id + 1) % 10 <> 0 AND doc_id + 1 < c
         |  UNION ALL
         |  SELECT doc_id, doc_id % 97 FROM documents WHERE doc_id % 97 <> doc_id),
         |edges AS (
         |  SELECT DISTINCT u, v FROM (
         |    SELECT u, v FROM raw UNION ALL SELECT v, u FROM raw)),
         |it0 AS (SELECT doc_id AS v, doc_id AS label FROM documents),
         |${duckIter(1)},
         |${duckIter(2)},
         |${duckIter(3)}
         |SELECT label AS community, COUNT(*) AS size FROM it3
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val c = docs.agg(count(lit(1)).as("c"))
      val chain = docs.crossJoin(c)
        .where((col("doc_id") + 1) % 10 =!= 0 && col("doc_id") + 1 < col("c"))
        .select(col("doc_id").as("u"), (col("doc_id") + 1).as("v"))
      val hubs = docs.where(col("doc_id") % 97 =!= col("doc_id"))
        .select(col("doc_id").as("u"), (col("doc_id") % 97).as("v"))
      val raw = chain.unionByName(hubs)
      val edges = raw
        .unionByName(raw.select(col("v").as("u"), col("u").as("v")))
        .distinct()
      graft.operators.LabelPropagation
        .run(docs.select(col("doc_id").as("id")), edges, iterations = 3)
        .groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("size"))
        .orderBy("community")
    }
  }

  /** The END-TO-END curation funnel — the five standard pretraining
    * stages (language filter → quality gate → exact dedup → benchmark
    * decontamination → split sampling) chained over one corpus, reported
    * as a per-stage survival table. THE scale property: the whole funnel
    * is ONE pass — per-doc stage flags are computed as columns (the dedup
    * flag via a min-over-hash window restricted to prior-stage survivors,
    * the contamination flag via one 8-gram semi-join), then a single
    * aggregate emits every stage count. No stage re-scans the corpus, so
    * at 100 TB this costs one scan + one gram join + one hash window — vs
    * the naive 5 sequential filtered scans. Exact copies are planted
    * (doc_id % 13 → +1e6 offset) since the raw corpus has none, so the
    * dedup stage provably drops rows; stage thresholds give every other
    * stage real drops too (500 → 218 → 166 → ... at sf0.01). */
  val curationFunnel: Reg = Reg.sql(
    "llm_curation_funnel",
    """WITH aug AS (
      |  SELECT doc_id, lang, n_chars, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, lang, n_chars, text FROM documents
      |  WHERE doc_id % 13 = 0),
      |base AS (
      |  SELECT doc_id, lang, n_chars,
      |         string_split(lower(text), ' ') AS ws,
      |         sha256(lower(text)) AS h,
      |         substr(md5(text), 1, 1) AS nib
      |  FROM aug),
      |grams AS (
      |  SELECT doc_id, UNNEST(list_transform(generate_series(1, len(ws) - 7),
      |           i -> array_to_string(ws[i:i+7], ' '))) AS gram
      |  FROM base WHERE len(ws) >= 8),
      |eval_g AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 50 = 0),
      |contam AS (SELECT DISTINCT g.doc_id FROM grams g
      |           JOIN eval_g e USING (gram) WHERE g.doc_id % 50 <> 0),
      |flags AS (
      |  SELECT b.doc_id,
      |    (b.lang = 'en') AS f1,
      |    (b.lang = 'en' AND len(b.ws) >= 30 AND b.n_chars >= 150) AS f12,
      |    b.h, b.nib,
      |    (b.doc_id % 50 = 0 OR c.doc_id IS NOT NULL) AS is_contam
      |  FROM base b LEFT JOIN contam c ON c.doc_id = b.doc_id),
      |staged AS (
      |  SELECT doc_id, f1, f12,
      |    (f12 AND doc_id = MIN(CASE WHEN f12 THEN doc_id END)
      |        OVER (PARTITION BY h)) AS f123,
      |    is_contam, nib FROM flags),
      |agg AS (SELECT COUNT(*) AS n0,
      |  COUNT(*) FILTER (WHERE f1) AS n1,
      |  COUNT(*) FILTER (WHERE f12) AS n2,
      |  COUNT(*) FILTER (WHERE f123) AS n3,
      |  COUNT(*) FILTER (WHERE f123 AND NOT is_contam) AS n4,
      |  COUNT(*) FILTER (WHERE f123 AND NOT is_contam AND nib <= 'b') AS n5
      |  FROM staged)
      |SELECT CAST(1 AS BIGINT) AS stage_no, 'lang_en' AS stage,
      |       n0 AS docs_in, n1 AS docs_out FROM agg
      |UNION ALL SELECT 2, 'quality', n1, n2 FROM agg
      |UNION ALL SELECT 3, 'exact_dedup', n2, n3 FROM agg
      |UNION ALL SELECT 4, 'decontaminate', n3, n4 FROM agg
      |UNION ALL SELECT 5, 'train_split', n4, n5 FROM agg
      |ORDER BY stage_no""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
      .select("doc_id", "lang", "n_chars", "text")
    val aug = docs.unionByName(
      docs.where(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          col("lang"), col("n_chars"), col("text")))
    val base = aug.select(col("doc_id"), col("lang"), col("n_chars"),
      split(lower(col("text")), " ", -1).as("ws"),
      sha2(lower(col("text")), 256).as("h"),
      substring(md5(col("text")), 1, 1).as("nib"))
    val grams = base.where(size(col("ws")) >= 8)
      .select(col("doc_id"), explode(
        expr("""transform(sequence(1, size(ws) - 7),
               |  i -> array_join(slice(ws, i, 8), ' '))""".stripMargin))
        .as("gram"))
    val evalG = grams.where(col("doc_id") % 50 === 0)
      .select("gram").distinct()
    val contam = grams.where(col("doc_id") % 50 =!= 0)
      .join(evalG, Seq("gram"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("__c", lit(true))
    val flags = base.join(contam, Seq("doc_id"), "left")
      .select(col("doc_id"), col("h"), col("nib"),
        (col("lang") === "en").as("f1"),
        (col("lang") === "en" && size(col("ws")) >= 30 &&
          col("n_chars") >= 150).as("f12"),
        (col("doc_id") % 50 === 0 || col("__c").isNotNull).as("is_contam"))
    val staged = flags.withColumn("f123",
      col("f12") && col("doc_id") ===
        min(when(col("f12"), col("doc_id")))
          .over(Window.partitionBy("h")))
    val agg = staged.agg(
      count(lit(1)).as("n0"),
      count(when(col("f1"), 1)).as("n1"),
      count(when(col("f12"), 1)).as("n2"),
      count(when(col("f123"), 1)).as("n3"),
      count(when(col("f123") && !col("is_contam"), 1)).as("n4"),
      count(when(col("f123") && !col("is_contam") && col("nib") <= "b", 1))
        .as("n5"))
    def stageRow(no: Long, name: String, in: String, out: String) =
      agg.select(lit(no).as("stage_no"), lit(name).as("stage"),
        col(in).as("docs_in"), col(out).as("docs_out"))
    stageRow(1, "lang_en", "n0", "n1")
      .unionByName(stageRow(2, "quality", "n1", "n2"))
      .unionByName(stageRow(3, "exact_dedup", "n2", "n3"))
      .unionByName(stageRow(4, "decontaminate", "n3", "n4"))
      .unionByName(stageRow(5, "train_split", "n4", "n5"))
      .orderBy("stage_no")
  }

  /** STREAMING incremental near-dup — the MinHash-LSH family run as a
    * real multi-batch stream: documents arrive one file per micro-batch
    * (base corpus, then near-dups, then exact copies — ascending mtimes
    * fix the order, the s18 technique), and each batch is matched against
    * TWO persisted state tables before being folded in: a bucket-min
    * store ((band, bucket) → smallest doc id seen — a min-merge monoid,
    * so folding is batching-shape-invariant) and a doc-shingle store for
    * exact-Jaccard verification of the candidate (bucket collisions must
    * never flag a false dup — the same verify step the batch pipeline
    * has). This is the arrival-order-respecting dedup a continuously
    * ingesting corpus needs: a new document dups against the EARLIEST
    * seen copy, never the reverse, and history is never re-clustered.
    * Scale: per batch one banding pass + two key equi-joins, and —
    * via [[graft.streaming.IncrementalNearDup]] — per-batch WRITE volume
    * proportional to the batch, never the corpus: the doc-shingle store
    * is append-only (one subdir per batch), the bucket-min store is an
    * LSM delta log collapsed on read by the min-monoid law and compacted
    * on an amortized threshold. Closed-form oracle: the planted corpus
    * pins every (doc, dup_of, jaccard) triple by arithmetic. */
  /** INCREMENTAL dup-cluster maintenance — the label store kept current
    * batch over batch WITHOUT re-running connected components on the
    * accumulated pair set (the 100 TB scale-killer this removes: a daily
    * batch should pay O(changed), not O(corpus-CC)). Per batch:
    *
    *  1. [[graft.streaming.IncrementalNearDup.processBatch]] surfaces the
    *     batch's verified dup edges against the corpus-so-far (O(batch)
    *     state writes — the llm_stream_neardup engine);
    *  2. edge endpoints look up their CURRENT labels (default self), and
    *     connected components runs on the LABEL GRAPH ONLY — O(batch)
    *     nodes, never the corpus: merging two existing clusters is a
    *     label-to-label edge, whatever their sizes;
    *  3. the (old root → merged min label) map lands as ONE redirect
    *     delta segment in the store's LSM log — the node store itself is
    *     append-only (a node's row is written once, at insertion), so the
    *     commit writes O(batch + repaired-chain) bytes, never O(store).
    *     Untouched clusters aren't read, relabeled, or rewritten at all;
    *     label resolution is a single depth-1 redirect join at read time.
    *
    * Batch order near → exact → base makes base ids arrive LAST, so the
    * %21 triangles force a real cross-batch CLUSTER MERGE (batch 2 built
    * {near, exact} with label near; base's arrival relabels both stored
    * rows to the smaller base id) — the path a fold-in-place shortcut
    * would get wrong. The oracle computes components from the full
    * planted pair list with a recursive CTE (the llm_dup_clusters gate),
    * so batching must be invisible. */
  val incrementalClusters: Reg = Reg.sql(
    "llm_incremental_clusters",
    """WITH RECURSIVE ids AS (SELECT doc_id FROM documents),
      |pairs AS (
      |  SELECT doc_id AS id_a, doc_id + 10000000 AS id_b FROM ids WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id, doc_id + 20000000 FROM ids WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 10000000, doc_id + 20000000 FROM ids WHERE doc_id % 21 = 0),
      |undirected AS (
      |  SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
      |reach(n, m) AS (
      |  SELECT a, b FROM undirected
      |  UNION
      |  SELECT r.n, u.b FROM reach r JOIN undirected u ON r.m = u.a),
      |comp AS (
      |  SELECT n AS node, LEAST(n, MIN(m)) AS comp FROM reach GROUP BY n)
      |SELECT comp AS cluster_rep, COUNT(*) AS cluster_size
      |FROM comp GROUP BY comp ORDER BY cluster_rep""".stripMargin) { (s, dir) =>
    import graft.llm.MinHash
    val cfg = MinHash.Config()
    val work = graft.Scratch.dir("graft_incclusters")
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", 8)
    try {
      // one corpus scan serves all three per-batch frames
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), plantedWords.as("text"))
        .localCheckpoint(false)
      val near = base.where(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(col("text"), format_string(" x%d", col("doc_id"))).as("text"))
      val exact = base.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))

      val ndRoot = s"$work/state"
      val labelsPath = s"$work/labels"
      graft.operators.IncrementalClusters.init(s, labelsPath)

      Seq(near, exact, base).zipWithIndex.foreach { case (b, i) =>
        val pairs = graft.streaming.IncrementalNearDup
          .processBatch(b, i.toLong, ndRoot, cfg)
          .select(col("doc_id").as("a"), col("dup_of").as("b"))
        graft.operators.IncrementalClusters.applyBatch(s, labelsPath, pairs)
      }
      val out = graft.operators.IncrementalClusters.labels(s, labelsPath)
        .groupBy(col("label").as("cluster_rep"))
        .agg(count(lit(1)).as("cluster_size"))
        .orderBy("cluster_rep")
      // |clusters| rows: materialize so the scratch dir can be deleted now
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(work))
    }
  }

  val streamNearDup: Reg = Reg.sql(
    "llm_stream_neardup",
    """WITH ids AS (SELECT doc_id FROM documents),
      |d AS (
      |  SELECT doc_id + 10000000 AS doc_id, doc_id AS dup_of,
      |         ROUND(CAST(18 AS DOUBLE) / CAST(19 AS DOUBLE), 4) AS jaccard
      |  FROM ids WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id + 20000000, doc_id, CAST(1.0 AS DOUBLE)
      |  FROM ids WHERE doc_id % 7 = 0)
      |SELECT doc_id, dup_of, jaccard FROM d ORDER BY doc_id""".stripMargin) {
    (s, dir) =>
      import graft.llm.MinHash
      val cfg = MinHash.Config()
      val work = graft.Scratch.dir("graft_sneardup")
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", 8)
      try {
        // one corpus scan serves all three staged batch files
        val base = Tables.documents(s, dir)
          .select(col("doc_id"), plantedWords.as("text"))
          .localCheckpoint(false)
        val near = base.where(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            concat(col("text"), format_string(" x%d", col("doc_id"))).as("text"))
        val exact = base.where(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))

        // one file per future micro-batch, mtime-ordered (s18 technique)
        val src = new java.io.File(work, "in")
        src.mkdirs()
        val t0 = System.currentTimeMillis() - 600000L
        // slice 0 IS the shared checkpoint (base): staged serially, the
        // two derived slices overlap
        graft.sources.Sources.stageMtimeOrdered(
          Seq(base, near, exact), src, s"$work/stage", t0)

        val outPaths = scala.collection.mutable.ArrayBuffer.empty[String]
        val stateRoot = s"$work/state"

        val schema = s.read.parquet(src.toString).schema
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(src.toString)
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
            // match against existing state, then fold the batch in with
            // O(batch) bytes written (append-only doc-shingle subdirs +
            // bucket-min delta log; see IncrementalNearDup)
            val verified = graft.streaming.IncrementalNearDup
              .processBatch(batch.toDF(), id, stateRoot, cfg)
            if (!verified.isEmpty) {
              verified.write.parquet(s"$work/out_$id")
              outPaths.synchronized { outPaths += s"$work/out_$id"; () }
            }
            graft.streaming.IncrementalNearDup
              .maybeCompact(batch.sparkSession, stateRoot, id)
            ()
          }
          .option("checkpointLocation", work + "/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()

        val out = s.read.parquet(outPaths.toSeq: _*)
          .orderBy("doc_id")
        // dup-pair cardinality rows: materialize so scratch can be deleted
        s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
      } finally {
        s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(); ()
        }
        rm(new java.io.File(work))
      }
  }

  /** The dataset card — the summary-statistics bundle published next to a
    * released corpus (size, token/char volume, language/source diversity,
    * duplication rate, length envelope), emitted as one (metric, value)
    * table. ONE fused aggregate pass over the corpus (the a29 analyzer-
    * fusion discipline: a 10-metric card costs one scan); ratios use
    * integer floor division so every value is an exact BIGINT. */
  val datasetCard: Reg = Reg.sql(
    "llm_dataset_card",
    """WITH t AS (SELECT doc_id, lang, source, n_chars,
      |                  len(string_split(text, ' ')) AS n_tok,
      |                  sha256(text) AS h FROM documents),
      |m AS (SELECT
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
      |  COUNT(DISTINCT lang) AS n_langs,
      |  COUNT(DISTINCT source) AS n_sources,
      |  COUNT(*) - COUNT(DISTINCT h) AS exact_dups,
      |  COUNT(*) FILTER (WHERE lang = 'en') * 1000 // COUNT(*) AS en_permille,
      |  CAST(SUM(n_chars) AS BIGINT) // COUNT(*) AS mean_chars_floor,
      |  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
      |  CAST(MAX(n_chars) AS BIGINT) AS max_chars
      |  FROM t)
      |SELECT 'n_docs' AS metric, CAST(n_docs AS BIGINT) AS value FROM m
      |UNION ALL SELECT 'n_tokens', n_tokens FROM m
      |UNION ALL SELECT 'n_chars', n_chars FROM m
      |UNION ALL SELECT 'n_langs', n_langs FROM m
      |UNION ALL SELECT 'n_sources', n_sources FROM m
      |UNION ALL SELECT 'exact_dup_docs', exact_dups FROM m
      |UNION ALL SELECT 'en_permille', CAST(en_permille AS BIGINT) FROM m
      |UNION ALL SELECT 'mean_chars_floor', CAST(mean_chars_floor AS BIGINT) FROM m
      |UNION ALL SELECT 'min_chars', min_chars FROM m
      |UNION ALL SELECT 'max_chars', max_chars FROM m
      |ORDER BY metric""".stripMargin) { (s, dir) =>
    val m = Tables.documents(s, dir)
      .select(col("lang"), col("source"), col("n_chars"),
        size(split(col("text"), " ", -1)).cast("long").as("n_tok"),
        sha2(col("text"), 256).as("h"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        sum("n_chars").as("n_chars"),
        countDistinct("lang").as("n_langs"),
        countDistinct("source").as("n_sources"),
        (count(lit(1)) - countDistinct("h")).as("exact_dups"),
        expr("count(CASE WHEN lang = 'en' THEN 1 END) * 1000 DIV count(1)")
          .as("en_permille"),
        min("n_chars").cast("long").as("min_chars"),
        max("n_chars").cast("long").as("max_chars"))
      .withColumn("mean_chars_floor", expr("n_chars DIV n_docs"))
    def row(name: String, c: String) =
      m.select(lit(name).as("metric"), col(c).cast("long").as("value"))
    row("n_docs", "n_docs")
      .unionByName(row("n_tokens", "n_tokens"))
      .unionByName(row("n_chars", "n_chars"))
      .unionByName(row("n_langs", "n_langs"))
      .unionByName(row("n_sources", "n_sources"))
      .unionByName(row("exact_dup_docs", "exact_dups"))
      .unionByName(row("en_permille", "en_permille"))
      .unionByName(row("mean_chars_floor", "mean_chars_floor"))
      .unionByName(row("min_chars", "min_chars"))
      .unionByName(row("max_chars", "max_chars"))
      .orderBy("metric")
  }

  // lazy: driftChi2 and streamNearDup are declared around this list; lazy
  // avoids capturing null at object-init time (registry lint walks every
  // entry)
  /** CONTENT-DEFINED CHUNKING (the FastCDC/Rabin substance, re-expressed
    * hash-gated: a word opens a new chunk when its content hash lands in
    * 1/16 of the space — `substr(md5(word),1,1)='0'`). Because cut
    * points depend on CONTENT, not position, an insertion early in a
    * document perturbs only its own chunk and every later chunk
    * boundary RE-SYNCHRONIZES — the property fixed-width segmentation
    * (llm_segment_dedup's 10-word grid) fundamentally lacks, and the
    * reason CDC is how dedup survives edits at storage scale. Chunks
    * then dedup EXACTLY across the corpus (identical chunk text
    * co-locates by definition — one content-keyed aggregate, no pairs).
    * Per doc: chunk count, chunks shared with ≥1 other doc, and the md5
    * of the in-order chunking itself (pins cut points bit-exactly).
    * Plan: one explode, one per-doc window (uniform keys), one
    * content-keyed aggregate, one group-back — corpus-linear. */
  val cdcChunks: Reg = Reg.sql(
    "llm_cdc_chunks",
    """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |tok AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, w[CAST(i AS INT)] AS word
      |        FROM ws, UNNEST(range(1, len(w)+1)) AS t(i)),
      |c AS (SELECT doc_id, pos, word,
      |             CAST(SUM(CASE WHEN substr(md5(word),1,1)='0'
      |                           THEN 1 ELSE 0 END)
      |               OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT)
      |               AS chunk_id
      |      FROM tok),
      |ch AS (SELECT doc_id, chunk_id,
      |              string_agg(word, ' ' ORDER BY pos) AS chunk
      |       FROM c GROUP BY doc_id, chunk_id),
      |freq AS (SELECT chunk, COUNT(DISTINCT doc_id) AS nd FROM ch GROUP BY chunk)
      |SELECT ch.doc_id,
      |       CAST(COUNT(*) AS BIGINT) AS n_chunks,
      |       CAST(COUNT(*) FILTER (f.nd >= 2) AS BIGINT) AS dup_chunks,
      |       md5(string_agg(ch.chunk, '|' ORDER BY ch.chunk_id)) AS chunks_md5
      |FROM ch JOIN freq f ON ch.chunk = f.chunk
      |GROUP BY ch.doc_id ORDER BY ch.doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ", -1)).as(Seq("pos0", "word")))
      .withColumn("pos", col("pos0") + 1).drop("pos0")
    val ch = tok
      .withColumn("cut",
        when(substring(md5(col("word")), 1, 1) === "0", 1).otherwise(0))
      .withColumn("chunk_id", sum("cut").over(
        Window.partitionBy("doc_id").orderBy("pos")))
      .groupBy("doc_id", "chunk_id")
      .agg(expr("array_join(transform(array_sort(collect_list(" +
        "struct(pos, word))), x -> x.word), ' ')").as("chunk"))
    val freq = ch.groupBy("chunk")
      .agg(countDistinct("doc_id").as("nd"))
    ch.join(freq, "chunk")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        count(when(col("nd") >= 2, 1)).as("dup_chunks"),
        md5(expr("array_join(transform(array_sort(collect_list(" +
          "struct(chunk_id, chunk))), x -> x.chunk), '|')")).as("chunks_md5"))
      .orderBy("doc_id")
  }

  /** Blocked EXACT edit-distance near-dup pairs — the verification tier
    * of fuzzy dedup where Jaccard/minhash is too coarse (OCR noise,
    * typo-level in-place edits preserve token sets but not strings).
    * Candidates come from an equi-join on the (lang, 12-char prefix)
    * block key with a ±24 length gate — blocking is part of the declared
    * semantics (the oracle replicates it), so the result is exact over
    * the blocked candidate space and the join is a plain shuffled
    * equi-join, never an all-pairs compare. Verification uses the
    * codegen'd threshold `levenshtein` (banded DP — O(n·k), returns −1
    * past the threshold, so non-dup candidates exit early instead of
    * filling the full DP matrix). The document-scale sibling of j12's
    * rare-bigram name matcher. */
  val editDistanceDedup: Reg = Reg.sql(
    "llm_edit_distance_dedup",
    """WITH p AS (SELECT doc_id, lang, text, n_chars,
      |             substr(text, 1, 12) AS pfx
      |           FROM documents)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
      |FROM p a JOIN p b
      |  ON a.lang = b.lang AND a.pfx = b.pfx AND a.doc_id < b.doc_id
      | AND abs(a.n_chars - b.n_chars) <= 24
      |WHERE levenshtein(a.text, b.text) <= 24
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    val p = Tables.documents(s, dir).select(
      col("doc_id"), col("lang"), col("text"), col("n_chars"),
      substring(col("text"), 1, 12).as("pfx"))
    // localCheckpoint fences the DP away from the join: without it Catalyst
    // pushes `dist >= 0` into the join residual and, residual order being
    // expression order, runs the levenshtein DP for EVERY block-bucket pair
    // BEFORE the cheap id/length gates — measured 42 s vs ~2 s at the
    // extent decade. The checkpointed frame is the gate-surviving candidate
    // set, bounded by the blocking contract (Σ|block|² with 12-char-prefix
    // blocks), so the materialization is small by construction.
    val cand = p.as("a").join(p.as("b"),
        col("a.lang") === col("b.lang") && col("a.pfx") === col("b.pfx") &&
        col("a.doc_id") < col("b.doc_id") &&
        abs(col("a.n_chars") - col("b.n_chars")) <= 24)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.text").as("text_a"), col("b.text").as("text_b"))
      .localCheckpoint()
    cand
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("text_a"), col("text_b"), 24).cast("bigint")
          .as("dist"))
      .where(col("dist") >= 0)
      .orderBy("doc_a", "doc_b")
  }

  /** Blocked RECORD-LINKAGE pairs under Jaro–Winkler — the short-string
    * fuzzy matcher (names, titles, keys) where edit distance over-penalizes
    * transpositions and Jaccard ignores order entirely; together with
    * llm_edit_distance_dedup this completes the classic linkage-verifier
    * pair. Candidates come from an equi-join on the (lang, length-band,
    * 2-char-prefix) block key — blocking is declared semantics (the
    * oracle replicates it), so the join is a plain shuffled equi-join,
    * never all-pairs; the prefix block is the natural one for THIS
    * measure, since Winkler's boost already privileges shared prefixes
    * (the measured extent decade without it: block occupancy grows with
    * corpus, candidates quadratically — 25× more pairs at 10× data).
    * Verification runs the native [[graft.plans.JaroWinklerExpression]]
    * (codegen'd, byte-level, numerics pinned against DuckDB's
    * jaro_winkler_similarity: integer-halved transpositions, 0.7 boost
    * threshold, exact IEEE operation order — see the expression Scaladoc)
    * on the 24-char key prefix; the emitted score is ROUND(·,4) in BOTH
    * engines and the threshold applies to the rounded value, so a
    * sub-1e-4 ulp divergence can never flip row membership. */
  val jwLinkage: Reg = Reg.sql(
    "llm_jw_linkage",
    """WITH t AS (SELECT doc_id, lang, n_chars // 40 AS band,
      |             substr(text, 1, 2) AS pfx,
      |             substr(text, 1, 24) AS key
      |           FROM documents)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |       ROUND(jaro_winkler_similarity(a.key, b.key), 4) AS jw
      |FROM t a JOIN t b
      |  ON a.lang = b.lang AND a.band = b.band AND a.pfx = b.pfx
      | AND a.doc_id < b.doc_id
      |WHERE ROUND(jaro_winkler_similarity(a.key, b.key), 4) >= 0.8
      |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.graftbridge.ColumnBridge
    def jw(a: Column, b: Column): Column =
      ColumnBridge.column(graft.plans.JaroWinklerExpression(
        ColumnBridge.expression(a), ColumnBridge.expression(b)))
    val t = Tables.documents(s, dir).select(
      col("doc_id"), col("lang"), expr("n_chars div 40").as("band"),
      substring(col("text"), 1, 2).as("pfx"),
      substring(col("text"), 1, 24).as("key"))
    t.as("a").join(t.as("b"),
        col("a.lang") === col("b.lang") && col("a.band") === col("b.band") &&
        col("a.pfx") === col("b.pfx") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        round(jw(col("a.key"), col("b.key")), 4).as("jw"))
      .where(col("jw") >= 0.8)
      .orderBy("id_a", "id_b")
  }

  /** Per-source word-distribution KL divergence against the corpus — the
    * source-mix drift monitor (a crawl snapshot whose vocabulary usage
    * departs from the pool is the first sign of template spam or a
    * scraper regression; KS/chi²/PSI (llm_drift_*) watch a NUMERIC
    * column, this watches the text itself). Every term
    * k·ln(k·N / (n·K_w)) floor-quantizes to the 1e-6 grid BEFORE the
    * per-source sum (the charEntropy micro-nat discipline), so the
    * aggregate is an order-free integer in both engines. Plan: one
    * explode → (source, word) counts; word totals reduce FROM those
    * counts (vocab-sized, never a second corpus pass); the only
    * data-sized shuffle is the first count. The source-totals join is
    * left UNHINTED — source cardinality is data-dependent, so AQE
    * promotes it to broadcast from MEASURED size rather than a
    * hand-placed hint that would OOM the driver if the domain blew up
    * (the grand-total crossJoin stays hinted: a global aggregate is one
    * row by construction). */
  val wordKlBySource: Reg = Reg.sql(
    "llm_word_kl_by_source",
    """WITH w AS (SELECT source, UNNEST(string_split(text, ' ')) AS w
      |           FROM documents),
      |sw AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS k
      |       FROM w GROUP BY source, w),
      |sn AS (SELECT source, CAST(SUM(k) AS BIGINT) AS n FROM sw GROUP BY source),
      |cw AS (SELECT w, CAST(SUM(k) AS BIGINT) AS kw FROM sw GROUP BY w),
      |tot AS (SELECT CAST(SUM(k) AS BIGINT) AS nn FROM sw)
      |SELECT sw.source, sn.n AS n_words,
      |       CAST(SUM(sw.k * CAST(FLOOR(LN(
      |              (CAST(sw.k AS DOUBLE) * CAST(tot.nn AS DOUBLE)) /
      |              (CAST(sn.n AS DOUBLE) * CAST(cw.kw AS DOUBLE))) * 1e6)
      |            AS BIGINT)) AS BIGINT) AS kl_micro
      |FROM sw JOIN sn USING (source) JOIN cw USING (w), tot
      |GROUP BY sw.source, sn.n ORDER BY sw.source""".stripMargin) { (s, dir) =>
    // localCheckpoint: sw fans out to three downstream aggregates — without
    // it Spark re-derives the subtree per reference and the corpus explode
    // runs FOUR times; the checkpointed frame is vocab×source-sized.
    val sw = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ", -1)).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).cast("bigint").as("k"))
      .localCheckpoint()
    val sn = sw.groupBy("source").agg(sum("k").cast("bigint").as("n"))
    val cw = sw.groupBy("w").agg(sum("k").cast("bigint").as("kw"))
    val tot = sw.agg(sum("k").cast("bigint").as("nn"))
    sw.join(sn, "source").join(cw, "w")
      .crossJoin(broadcast(tot))
      .withColumn("term", col("k") * floor(log(
          (col("k").cast("double") * col("nn").cast("double")) /
          (col("n").cast("double") * col("kw").cast("double"))) * lit(1e6))
        .cast("bigint"))
      .groupBy(col("source"), col("n").as("n_words"))
      .agg(sum("term").cast("bigint").as("kl_micro"))
      .orderBy("source")
  }

  /** ROUGE n-gram recall between candidate/reference pairs — the EVAL
    * metric of summarization/distillation pipelines (and the "is the
    * model parroting its source" memorization probe), absent from the
    * dedup family because ROUGE counts are CLIPPED MULTISET overlaps
    * (Σ min(count_cand, count_ref)), not the set intersections Jaccard
    * and containment use. Grams collapse to per-doc (gram, count) frames
    * first, so the pair stage is a grouped equi-join on (pair, gram) —
    * any candidate generator plugs in where the adjacency pairing stands
    * (the llm_token_jaccard gate-pair discipline); reference-side totals
    * are per-doc aggregates computed once, never per pair. ROUGE-1 and
    * ROUGE-2 recalls are integer micros ((match·1e6) div ref_total);
    * references too short to have bigrams drop from BOTH engines by the
    * same inner join. */
  /** TF-IDF keyword extraction per source — the "what characterizes this
    * slice of the corpus" primitive next to llm_word_kl_by_source's
    * divergence view. ONE corpus pass: a single (source, term) aggregate
    * carries both tf and the per-source distinct-doc count (sources
    * partition documents, so df(term) is the SUM of per-source distinct
    * counts — no second scan), and that vocabulary-sized frame is
    * checkpointed before fanning out to tf/df/join — deriving the two
    * from one DataFrame is NOT enough, because per-branch column pruning
    * makes the partial aggregates differ and defeats exchange reuse
    * (measured: two full explodes). idf is floor-quantized to integer micros
    * (FLOOR(ln(N/df)·1e6)) before the tf multiply, so scores live on an
    * exact integer lattice and the per-source top-5 ranking
    * (score DESC, term ASC) is a total order both engines replicate
    * bit-for-bit. At 100 TB: explode + two term-keyed shuffles + a
    * TWO-PHASE top-k — per-(source, term-hash-salt) ROW_NUMBER first
    * (64-way parallel, exact: the global top-5 is contained in the union
    * of per-salt top-5s), then a final window over ≤ 320 survivors per
    * source. A single per-source window would be |sources| tasks each
    * sorting a vocabulary-sized frame — measured 12×/decade before the
    * salt, 2.4× after; N arrives by broadcast of a one-row aggregate. */
  val tfidfTerms: Reg = Reg.sql(
    "llm_tfidf_terms",
    """WITH toks AS (SELECT doc_id, source,
      |                     string_split_regex(lower(text), '\s+') AS t
      |              FROM documents),
      |dt AS (SELECT doc_id, source, u.g AS term, CAST(COUNT(*) AS BIGINT) AS c
      |       FROM toks, UNNEST(t) AS u(g) WHERE u.g <> '' GROUP BY 1, 2, 3),
      |tf AS (SELECT source, term, CAST(SUM(c) AS BIGINT) AS tf
      |       FROM dt GROUP BY 1, 2),
      |dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM dt GROUP BY 1),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
      |sc AS (SELECT tf.source, tf.term, tf.tf, dfreq.df,
      |              tf.tf * CAST(FLOOR(LN(CAST(n.n AS DOUBLE) /
      |                CAST(dfreq.df AS DOUBLE)) * 1e6) AS BIGINT) AS score
      |       FROM tf JOIN dfreq USING (term) CROSS JOIN n),
      |r AS (SELECT source, term, tf, df, score,
      |             ROW_NUMBER() OVER (PARTITION BY source
      |                                ORDER BY score DESC, term) AS rnk
      |      FROM sc)
      |SELECT source, CAST(rnk AS BIGINT) AS rnk, term, tf, df, score
      |FROM r WHERE rnk <= 5 ORDER BY source, rnk""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    // vocabulary-sized after the aggregate — checkpoint is the house
    // domain-frame discipline, and the corpus explode runs exactly once
    val st = docs.select(col("doc_id"), col("source"),
      explode(split(lower(col("text")), "\\s+")).as("term"))
      .where(col("term") =!= "")
      .groupBy("source", "term")
      .agg(count(lit(1)).cast("bigint").as("tf"),
        countDistinct("doc_id").as("dfs"))
      .localCheckpoint()
    val tf = st.select("source", "term", "tf")
    val dfreq = st.groupBy("term").agg(sum("dfs").cast("bigint").as("df"))
    val nFrame = docs.agg(count(lit(1)).cast("bigint").as("n"))
    val sc = tf.join(dfreq, "term").crossJoin(broadcast(nFrame))
      .withColumn("score", col("tf") *
        floor(log(col("n").cast("double") / col("df").cast("double")) * 1e6)
          .cast("bigint"))
    val survivors = sc
      .withColumn("salt", pmod(hash(col("term")), lit(64)))
      .withColumn("r1", row_number().over(
        Window.partitionBy("source", "salt")
          .orderBy(col("score").desc, col("term"))))
      .where(col("r1") <= 5)
    survivors.withColumn("rnk", row_number().over(
      Window.partitionBy("source").orderBy(col("score").desc, col("term")))
      .cast("bigint"))
      .where(col("rnk") <= 5)
      .select("source", "rnk", "term", "tf", "df", "score")
      .orderBy("source", "rnk")
  }

  /** T5-STYLE SPAN CORRUPTION — the denoising-objective preprocessor:
    * ~15% of each document's tokens masked in length-3 spans whose
    * starts come from the integer Knuth-hash of (doc_id, span-index) —
    * RNG-free, reproducible across engines, runs and partitionings (the
    * llm_weighted_sample discipline applied to AUGMENTATION rather than
    * selection). Overlapping spans merge by position-set union in both
    * engines; the corrupted text (masked tokens → `<X>`) is pinned by
    * md5 so the oracle checks the actual byte output, not just counts.
    * Spark side is a single `transform` over the token array (no
    * explode, no shuffle beyond the span positions); one corpus pass. */
  val spanCorrupt: Reg = Reg.sql(
    "llm_span_corrupt",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |base AS (SELECT doc_id, w, len(w) AS n, LEAST(len(w) // 20, 100) AS k FROM t),
      |spans AS (
      |  SELECT b.doc_id,
      |         ((b.doc_id * 131 + s.i * 31 + 7) % 2147483648) * 2654435761 %
      |           2147483648 % (b.n - 2) AS st
      |  FROM base b, range(0, 100) s(i) WHERE s.i < b.k),
      |pos AS (
      |  SELECT DISTINCT doc_id, st + o.j AS p
      |  FROM spans, range(0, 3) o(j)),
      |agg AS (SELECT doc_id, COUNT(*) AS n_masked, list(p) AS ps
      |        FROM pos GROUP BY doc_id),
      |out AS (
      |  SELECT b.doc_id, b.n, b.k,
      |         COALESCE(a.n_masked, 0) AS n_masked,
      |         md5(array_to_string(
      |           list_transform(b.w, (tok, i) ->
      |             CASE WHEN a.ps IS NOT NULL AND list_contains(a.ps, i - 1)
      |                  THEN '<X>' ELSE tok END), ' ')) AS corrupted_md5
      |  FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, CAST(k AS BIGINT) AS n_spans,
      |       CAST(n_masked AS BIGINT) AS n_masked, corrupted_md5
      |FROM out ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ", -1).as("w"))
      .withColumn("n", size(col("w")).cast("bigint"))
      .withColumn("k", least(expr("n div 20"), lit(100L)))
    val spans = base.where(col("k") > 0)
      .select(col("doc_id"), col("n"),
        explode(sequence(lit(0L), col("k") - 1)).as("i"))
      .withColumn("st",
        (col("doc_id") * 131 + col("i") * 31 + 7) % 2147483648L *
          2654435761L % 2147483648L % (col("n") - 2))
    val pos = spans.select(col("doc_id"),
      explode(sequence(col("st"), col("st") + 2)).as("p")).distinct()
    val agg = pos.groupBy("doc_id")
      .agg(count(lit(1)).as("n_masked"), collect_list(col("p")).as("ps"))
    base.join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n").as("n_tokens"), col("k").as("n_spans"),
        coalesce(col("n_masked"), lit(0L)).cast("bigint").as("n_masked"),
        md5(concat_ws(" ", expr(
          "transform(w, (tok, i) -> IF(ps IS NOT NULL AND " +
            "array_contains(ps, CAST(i AS BIGINT)), '<X>', tok))")))
          .as("corrupted_md5"))
      .orderBy("doc_id")
  }

  /** TEMPERATURE-SCALED SOURCE MIXING (the mT5/XLM-R multinomial
    * sampling weights): w_s ∝ tokens_s^τ with τ=0.7 — upweights small
    * sources, tempers the head. One aggregate to the source domain; the
    * single float (pow) is floor-quantized to integer micros PER SOURCE
    * before any summation, so the normalizing denominator is an exact
    * integer sum (never an order-dependent float reduction) and the ppm
    * weights and boost factors are exact integer divisions. The boost
    * column (weight vs natural share) is the sampling-multiplier a
    * training loader consumes. */
  val mixTemperature: Reg = Reg.sql(
    "llm_mix_temperature",
    """WITH t AS (SELECT source, CAST(SUM(n_chars // 4) AS BIGINT) AS toks
      |           FROM documents GROUP BY source),
      |p AS (SELECT source, toks,
      |             CAST(FLOOR(POWER(CAST(toks AS DOUBLE), 0.7) * 1e6) AS BIGINT)
      |               AS pw
      |      FROM t),
      |z AS (SELECT CAST(SUM(pw) AS BIGINT) AS zp, CAST(SUM(toks) AS BIGINT) AS zt
      |      FROM p)
      |SELECT p.source, p.toks,
      |       CAST(p.pw * 1000000 // z.zp AS BIGINT) AS w_ppm,
      |       CAST((p.pw * 1000000 // z.zp) * z.zt // (p.toks * 1000) AS BIGINT)
      |         AS boost_milli
      |FROM p, z ORDER BY p.source""".stripMargin) { (s, dir) =>
    val t = Tables.documents(s, dir)
      .groupBy("source")
      .agg(sum(expr("n_chars div 4")).cast("bigint").as("toks"))
    val p = t.withColumn("pw",
      floor(pow(col("toks").cast("double"), 0.7) * 1e6).cast("bigint"))
    val z = p.agg(sum("pw").cast("bigint").as("zp"),
      sum("toks").cast("bigint").as("zt"))
    p.crossJoin(broadcast(z))
      .select(col("source"), col("toks"),
        expr("CAST(pw * 1000000 DIV zp AS BIGINT)").as("w_ppm"),
        expr("CAST((pw * 1000000 DIV zp) * zt DIV (toks * 1000) AS BIGINT)")
          .as("boost_milli"))
      .orderBy("source")
  }

  val rougeOverlap: Reg = Reg.sql(
    "llm_rouge_overlap",
    """WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
      |              FROM documents),
      |uni AS (SELECT doc_id, u.g AS g, CAST(COUNT(*) AS BIGINT) AS c
      |        FROM toks, UNNEST(t) AS u(g) GROUP BY 1, 2),
      |big AS (SELECT doc_id, t[i] || ' ' || t[i + 1] AS g,
      |               CAST(COUNT(*) AS BIGINT) AS c
      |        FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS s(i)
      |        GROUP BY 1, 2),
      |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
      |m1 AS (SELECT p.id_a, SUM(LEAST(ua.c, ub.c)) AS m FROM p
      |       JOIN uni ua ON ua.doc_id = p.id_a
      |       JOIN uni ub ON ub.doc_id = p.id_b AND ub.g = ua.g
      |       GROUP BY 1),
      |m2 AS (SELECT p.id_a, SUM(LEAST(ba.c, bb.c)) AS m FROM p
      |       JOIN big ba ON ba.doc_id = p.id_a
      |       JOIN big bb ON bb.doc_id = p.id_b AND bb.g = ba.g
      |       GROUP BY 1),
      |t1 AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS tot FROM uni GROUP BY 1),
      |t2 AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS tot FROM big GROUP BY 1)
      |SELECT p.id_a, p.id_b,
      |       CAST(COALESCE(m1.m, 0) AS BIGINT) AS r1_match, t1.tot AS r1_total,
      |       CAST((COALESCE(m1.m, 0) * 1000000) // t1.tot AS BIGINT) AS rouge1_micro,
      |       CAST(COALESCE(m2.m, 0) AS BIGINT) AS r2_match, t2.tot AS r2_total,
      |       CAST((COALESCE(m2.m, 0) * 1000000) // t2.tot AS BIGINT) AS rouge2_micro
      |FROM p JOIN t1 ON t1.doc_id = p.id_b
      |       JOIN t2 ON t2.doc_id = p.id_b
      |       LEFT JOIN m1 ON m1.id_a = p.id_a
      |       LEFT JOIN m2 ON m2.id_a = p.id_a
      |ORDER BY p.id_a""".stripMargin) { (s, dir) =>
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("t"))
      .localCheckpoint()
    val uni = toks.select(col("doc_id"), explode(col("t")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    val big = toks.select(col("doc_id"), explode(expr(
      "CASE WHEN size(t) >= 2 THEN " +
        "transform(sequence(1, size(t) - 1), i -> concat(t[i - 1], ' ', t[i])) " +
        "ELSE array() END")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    val ids = Tables.documents(s, dir).select(col("doc_id"))
    val p = ids.select(col("doc_id").as("id_a"))
      .join(ids.select(col("doc_id").as("id_b")), col("id_b") === col("id_a") + 1)
    def matches(grams: org.apache.spark.sql.DataFrame, name: String) =
      p.join(grams.select(col("doc_id").as("id_a"), col("g"), col("c").as("ca")), "id_a")
        .join(grams.select(col("doc_id").as("id_b"), col("g"), col("c").as("cb")),
          Seq("id_b", "g"))
        .groupBy("id_a").agg(sum(least(col("ca"), col("cb"))).as(name))
    def totals(grams: org.apache.spark.sql.DataFrame, name: String) =
      grams.groupBy(col("doc_id").as("id_b"))
        .agg(sum("c").cast("bigint").as(name))
    p.join(totals(uni, "r1_total"), "id_b")
      .join(totals(big, "r2_total"), "id_b")
      .join(matches(uni, "m1"), Seq("id_a"), "left")
      .join(matches(big, "m2"), Seq("id_a"), "left")
      .select(col("id_a"), col("id_b"),
        coalesce(col("m1"), lit(0L)).cast("bigint").as("r1_match"),
        col("r1_total"),
        expr("cast((coalesce(m1, cast(0 as bigint)) * 1000000) div r1_total as bigint)")
          .as("rouge1_micro"),
        coalesce(col("m2"), lit(0L)).cast("bigint").as("r2_match"),
        col("r2_total"),
        expr("cast((coalesce(m2, cast(0 as bigint)) * 1000000) div r2_total as bigint)")
          .as("rouge2_micro"))
      .orderBy("id_a")
  }

  /** MMR diversity re-ranking (maximal marginal relevance) — the retrieval
    * post-processor between ANN search and the context window: greedily
    * pick the candidate maximizing λ·rel(q,c) − (1−λ)·max_{s∈S} sim(c,s),
    * so near-duplicate hits don't crowd out coverage. Five unrolled greedy
    * rounds over a RERANK-SIZED candidate set (vec_id < 200 — MMR runs
    * after retrieval truncates the corpus, which is what makes the
    * quadratic max-sim term affordable; the corpus-sized stage stays ANN's
    * problem). Every similarity is [[graft.llm.Similarity.cosine]], bit-
    * compatible with DuckDB's list_cosine_similarity, and λ-blending uses
    * identical literals, so the per-round argmax (score DESC, vec_id ASC)
    * selects the identical element in both engines; the oracle replays the
    * same five rounds as chained CTEs. Per round: one broadcast of the ≤4
    * selected vectors, one max-aggregate over candidates — no corpus
    * shuffle anywhere. */
  val mmrRerank: Reg = {
    def duckRound(i: Int): String = {
      val prev = s"u${i - 1}"
      s"""m$i AS (SELECT c.vec_id, MAX(list_cosine_similarity(c.e, s.e)) AS ms
         |        FROM c, $prev s
         |        WHERE c.vec_id NOT IN (SELECT vec_id FROM $prev)
         |        GROUP BY c.vec_id),
         |s$i AS (SELECT c.vec_id, c.e, 0.7 * c.rel - 0.3 * m$i.ms AS score
         |        FROM c JOIN m$i ON m$i.vec_id = c.vec_id
         |        ORDER BY score DESC, c.vec_id LIMIT 1),
         |u$i AS (SELECT * FROM $prev UNION ALL SELECT vec_id, e, score FROM s$i)""".stripMargin
    }
    Reg.sql(
      "llm_mmr_rerank",
      s"""WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
         |c AS (SELECT vec_id, embedding::DOUBLE[] AS e,
         |             list_cosine_similarity(embedding::DOUBLE[], qe) AS rel
         |      FROM embeddings, q WHERE vec_id >= 1 AND vec_id < 200),
         |s1 AS (SELECT vec_id, e, 0.7 * rel AS score
         |       FROM c ORDER BY score DESC, vec_id LIMIT 1),
         |u1 AS (SELECT vec_id, e, score FROM s1),
         |${duckRound(2)},
         |${duckRound(3)},
         |${duckRound(4)},
         |${duckRound(5)}
         |SELECT CAST(1 AS BIGINT) AS rnk, vec_id, ROUND(score, 6) AS score FROM s1
         |UNION ALL SELECT 2, vec_id, ROUND(score, 6) FROM s2
         |UNION ALL SELECT 3, vec_id, ROUND(score, 6) FROM s3
         |UNION ALL SELECT 4, vec_id, ROUND(score, 6) FROM s4
         |UNION ALL SELECT 5, vec_id, ROUND(score, 6) FROM s5
         |ORDER BY rnk""".stripMargin) { (s, dir) =>
      import graft.llm.Similarity
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      val cand = emb.where(col("vec_id") >= 1 && col("vec_id") < 200)
        .crossJoin(broadcast(q)) // 1-row query frame
        .select(col("vec_id"), col("embedding").as("e"),
          Similarity.cosine(col("embedding"), col("q_emb")).as("rel"))
        .localCheckpoint()
      var picks = cand
        .select(lit(1L).as("rnk"), col("vec_id"), col("e"),
          (lit(0.7) * col("rel")).as("score"))
        .orderBy(col("score").desc, col("vec_id")).limit(1)
        .localCheckpoint()
      for (i <- 2 to 5) {
        val sel = broadcast(
          picks.select(col("vec_id").as("s_id"), col("e").as("s_e")))
        val next = cand
          .join(picks.select(col("vec_id")), Seq("vec_id"), "left_anti")
          .crossJoin(sel) // ≤4-row selected frame, broadcast by construction
          .groupBy("vec_id", "rel", "e")
          .agg(max(Similarity.cosine(col("e"), col("s_e"))).as("ms"))
          .select(lit(i.toLong).as("rnk"), col("vec_id"), col("e"),
            (lit(0.7) * col("rel") - lit(0.3) * col("ms")).as("score"))
          .orderBy(col("score").desc, col("vec_id")).limit(1)
        picks = picks.unionByName(next).localCheckpoint()
      }
      picks.select(col("rnk"), col("vec_id"),
        round(col("score"), 6).as("score"))
        .orderBy("rnk")
    }
  }

  /** EXACT SUBSTRING repeat detection via a DISTRIBUTED SUFFIX ARRAY —
    * the Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better") exact-substring pass, which catches verbatim
    * boilerplate/templates that gram-set dedup dilutes. Suffix positions
    * are sampled on a 4-char lattice (the published implementations
    * stride too) and ranked by PREFIX DOUBLING on the 16-char block
    * alphabet: rank₁₆ = dense rank of the exact 16-char block, then ONE
    * doubling round pairs each position's rank with the rank 16
    * characters ahead (missing = −1 sentinel), so the final rank groups
    * positions EXACTLY when their 32-char suffixes are equal — which is
    * what the oracle states directly as `substr(text, i, 32)` grouping.
    * (Round 17: the seed widened 4→8 chars, cutting a whole doubling
    * round — one fewer corpus checkpoint + pair join + rank — for one
    * extra seed byte per shuffled block; won 5/6 interleaved sf1d
    * comparisons, normalized cold medians 26.5 s vs 30.5 s. Round 19:
    * 8→16 on the same trade cuts the k=8 round outright; the gram
    * space stays saturated at 16 chars — r17's settle probe saw only
    * 348k singletons of 4.95M positions — so the distinct-seed frame
    * grows far slower than a doubling round costs. Equivalence: rank₁₆
    * groups positions by 16-char-substring equality exactly as the old
    * (rank₈[i], rank₈[i+8]) pair did — short remainders compare as the
    * strings they are on both paths, and unequal-length remainders can
    * never collide.)
    * Each round is one distinct + one distributed rank + one equi-join
    * (never a single-partition window, never a driver collect):
    * O(n log L) shuffle work, the textbook distributed suffix-array
    * construction, which is the whole point — at 100 TB the direct
    * substring groupBy would shuffle 32-byte keys for every position,
    * while doubling shuffles 16-byte rank pairs and the rank domain
    * SHRINKS as groups split. The pair ranking is DOMAIN-GUARDED
    * (round 17): the packed `rank * domain + rnext` composite is the
    * fast path but silently wraps BIGINT once domain² ≥ 2⁶³ (domain
    * ≳ 3.04e9 — the o63 overflow class, silent with ANSI off), so each
    * round probes the domain and switches past the bound to
    * [[graft.operators.PairRank]]'s two-pass split rank — overflow-free
    * at ANY corpus size, measured ~1.6× the packed path in an
    * interleaved sf1d A/B, which is why it is the fallback and not the
    * default. Settled-rank early exit (freeze singleton groups off the
    * frontier) was implemented and MEASURED OUT in round 17: on a
    * strided lattice the k-gram space saturates for k ≤ 16 — singletons
    * were 3 / 1.7k / 348k of 4.95M positions at the three settle points
    * — so the ≤7% frontier shrink never repays the two corpus shuffles
    * a settle pass costs, and a 100 TB corpus saturates those gram
    * spaces harder still. Output is the per-doc curation signal: how
    * much of each document is covered by a cross-document 32-char
    * repeat. */
  val suffixRepeats: Reg = Reg.sql(
    "llm_suffix_repeats",
    """WITH d AS (SELECT doc_id, text FROM documents),
      |pos AS (SELECT doc_id, substr(text, CAST(i AS BIGINT), 32) AS sub
      |        FROM d, unnest(range(1, len(text) + 1, 4)) AS t(i)),
      |g AS (SELECT sub, COUNT(DISTINCT doc_id) AS nd FROM pos GROUP BY sub)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pos,
      |       CAST(COUNT(*) FILTER (WHERE g.nd >= 2) AS BIGINT) AS n_dup_pos,
      |       CAST((COUNT(*) FILTER (WHERE g.nd >= 2)) * 1000000
      |              // COUNT(*) AS BIGINT) AS dup_ratio_micro
      |FROM pos JOIN g USING (sub)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import graft.operators.{DistributedRank, PairRank}
    val blocksRaw = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(expr("sequence(1, length(text), 4)")).as("i"),
        col("text"))
      .select(col("doc_id"), col("i"),
        expr("substring(text, i, 16)").as("blk"))
      .localCheckpoint(false) // rank seed + the join-back share it
    // PACKED POSITION KEY (round 19, guide §2 shuffle-bytes): every
    // doubling round joins the frontier to its own k-shifted lookup on
    // (doc_id, i); packing pid = doc_id·2³² + i makes that a single-long
    // key — half the key bytes through the three rounds' dominant
    // shuffles, and the shifted lookup becomes plain `pid − k` (a borrow
    // out of the position field lands ≥ 2³²−8 above any real position —
    // string columns cap i < 2³¹ — so it matches nothing, exactly like
    // the old two-column miss). Guarded by a one-job probe (which also
    // materializes the blocks checkpoint its two round-0 consumers need):
    // doc_id outside [0, 2³¹) falls back to the two-column key.
    val docBounds = blocksRaw.agg(min("doc_id"), max("doc_id")).head()
    val packable = docBounds.isNullAt(0) ||
      (docBounds.getLong(0) >= 0L && docBounds.getLong(1) < (1L << 31))
    val blocks =
      if (packable)
        blocksRaw.select(
          (col("doc_id") * lit(1L << 32) + col("i")).as("pid"), col("blk"))
      else blocksRaw
    val keyCols = if (packable) Seq("pid") else Seq("doc_id", "i")
    // suffix-array round 0: the 16-char block alphabet ranks through the
    // sorted-distinct zipWithIndex device (strings have no integral
    // packing); every later round stays in pure codegen'd DataFrame
    // land. EVERY round's frontier frame is checkpointed: each is
    // consumed twice (as the left side and as its own shifted lookup),
    // and without the cuts the decade cost blows up multiplicatively.
    var active = blocks
      .join(DistributedRank.ofDistinct(blocks, Seq("blk")), "blk")
      .select(keyCols.map(col) :+ col("rank"): _*)
      .localCheckpoint(false)
    // prefix doubling: 8 -> 16 -> 32 characters, DOMAIN-GUARDED
    // pair ranking per round. Fast path: dense ranks are < the distinct
    // count of the previous round, so (rank, rnext) packs injectively
    // into one long and dense rank == exact CDF position — one two-level
    // PrefixSum.globalCumsum, no Row conversion. The pack is SOUND only
    // while rankDomain² < 2⁶³ (rankDomain ≤ 3,037,000,499); past that it
    // wraps silently with ANSI off (the o63 overflow class), so the
    // round probes the domain and switches to PairRank's two-pass split
    // rank — overflow-free at any corpus size, measured ~1.6× the packed
    // path in an interleaved sf1d A/B, hence fallback not default. The
    // bound is a conf only so a spec can force the split path end-to-end.
    val packBound = s.conf.getOption("spark.graft.suffix.packBound")
      .map(_.toLong).getOrElse(3037000499L)
    Seq(16).foreach { k =>
      val maxRank = active.agg(max("rank")).head()
      val rankDomain = // empty corpus ⇒ null max ⇒ empty rounds, no NPE
        (if (maxRank.isNullAt(0)) 0L else maxRank.getLong(0)) + 2L
      val ahead =
        if (packable) active.select((col("pid") - k).as("pid"),
          col("rank").as("rnext"))
        else active.select(col("doc_id"), (col("i") - k).as("i"),
          col("rank").as("rnext"))
      val paired = active.join(ahead, keyCols, "left")
        .na.fill(-1L, Seq("rnext")) // suffix ends inside the window
        .localCheckpoint(false) // rank seed + the join-back share it
      active = (if (rankDomain <= packBound && rankDomain <= 3037000499L) {
        val packed = paired.withColumn("ck",
          col("rank") * rankDomain + col("rnext") + lit(1L))
        // composite order == lexicographic (rank, rnext) order; ~64 old
        // ranks per bucket keeps the offset frame ~domain/64-sized
        val ranked = graft.operators.PrefixSum.globalCumsum(
          packed.select("ck").distinct().withColumn("one", lit(1L)),
          "ck", "one", bucketWidth = rankDomain * 64L)
          .select(col("ck"), col("cum_before").as("rank2"))
        packed.join(ranked, "ck")
      } else {
        paired.join(PairRank.ofDistinct(paired, "rank", "rnext"),
          Seq("rank", "rnext"))
      }).select(keyCols.map(col) :+ col("rank2").as("rank"): _*)
        .localCheckpoint(false)
    }
    // duplicate test per final group: ≥2 distinct doc_ids ⇔ group
    // min/max doc_id differ — a partial-combining aggregate + join back,
    // NEVER a full-frame window on rank: common-gram ranks put millions
    // of rows in one group, and a WindowExec partitioned on them buffers
    // the whole group in single tasks (measured 112.6 s vs 55 s at the
    // extent decade on the window form of this pass).
    val docOf = // unpack: pid = doc_id·2³² + i with 1 ≤ i < 2³²
      if (packable) shiftrightunsigned(col("pid"), 32) else col("doc_id")
    val groups = active.groupBy("rank")
      .agg((min(docOf) =!= max(docOf)).as("dup"))
    active.join(groups, "rank") // hint-free: domain-sized, AQE decides
      .withColumn("doc_id", docOf)
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("bigint").as("n_pos"),
        count(when(col("dup"), 1)).cast("bigint").as("n_dup_pos"))
      .withColumn("dup_ratio_micro",
        expr("(n_dup_pos * 1000000) div n_pos"))
      .orderBy("doc_id")
  }

  /** K-ANONYMITY generalization ladder — the privacy audit a training-
    * data RELEASE needs beside llm_pii_scrub's content pass: rows whose
    * quasi-identifier tuple (lang, source, n_chars) is shared by fewer
    * than k = 5 documents are linkable, and the fix is GENERALIZATION —
    * coarsen the QI until every group reaches k (Sweeney's k-anonymity;
    * the ladder is the lattice walk Mondrian/Incognito search). Levels:
    * exact n_chars → /10 → /100 → suppressed → source suppressed → all
    * suppressed. The corpus is touched ONCE (the level-0 QI histogram);
    * every ladder level is a rollup of that domain-sized frame — at
    * 100 TB the audit costs one aggregate plus arithmetic on group
    * counts, which is why the ladder is computed from g0 instead of
    * re-scanning per level. Output: per level the group count, violating
    * groups, rows at re-identification risk, and the chosen (minimal
    * compliant) level; risk is provably non-increasing in level
    * (coarsening only merges groups), which the inline gate pins. */
  val kAnonymity: Reg = Reg.sql(
    "llm_k_anonymity",
    """WITH g0 AS (SELECT lang, source, n_chars, COUNT(*) AS c
      |            FROM documents GROUP BY 1, 2, 3),
      |lv AS (SELECT UNNEST([0, 1, 2, 3, 4, 5]) AS level),
      |sizes AS (
      |  SELECT lv.level,
      |         CASE WHEN lv.level <= 4 THEN lang ELSE '*' END AS d1,
      |         CASE WHEN lv.level <= 3 THEN source ELSE '*' END AS d2,
      |         CASE WHEN lv.level = 0 THEN CAST(n_chars AS VARCHAR)
      |              WHEN lv.level = 1 THEN CAST(n_chars // 10 AS VARCHAR)
      |              WHEN lv.level = 2 THEN CAST(n_chars // 100 AS VARCHAR)
      |              ELSE '*' END AS d3,
      |         SUM(c) AS sz
      |  FROM g0 CROSS JOIN lv GROUP BY 1, 2, 3, 4),
      |stats AS (
      |  SELECT level, CAST(COUNT(*) AS BIGINT) AS n_groups,
      |         CAST(COUNT(*) FILTER (WHERE sz < 5) AS BIGINT)
      |           AS n_violating,
      |         CAST(COALESCE(SUM(sz) FILTER (WHERE sz < 5), 0) AS BIGINT)
      |           AS rows_at_risk
      |  FROM sizes GROUP BY 1)
      |SELECT CAST(level AS BIGINT) AS level, n_groups, n_violating,
      |       rows_at_risk,
      |       CAST(level = (SELECT MIN(level) FROM stats
      |                     WHERE rows_at_risk = 0) AS BIGINT) AS chosen
      |FROM stats ORDER BY level""".stripMargin) { (s, dir) =>
    val g0 = Tables.documents(s, dir)
      .groupBy("lang", "source", "n_chars")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // six ladder rollups share the one pass
    import s.implicits._
    val levels = (0 to 5).map(_.toLong).toDF("level")
    val sizes = g0.crossJoin(broadcast(levels))
      .select(col("level"),
        when(col("level") <= 4, col("lang")).otherwise("*").as("d1"),
        when(col("level") <= 3, col("source")).otherwise("*").as("d2"),
        when(col("level") === 0, col("n_chars").cast("string"))
          .when(col("level") === 1, expr("n_chars div 10").cast("string"))
          .when(col("level") === 2, expr("n_chars div 100").cast("string"))
          .otherwise("*").as("d3"),
        col("c"))
      .groupBy("level", "d1", "d2", "d3")
      .agg(sum("c").as("sz"))
    val stats = sizes.groupBy("level")
      .agg(count(lit(1)).cast("bigint").as("n_groups"),
        count(when(col("sz") < 5, 1)).cast("bigint").as("n_violating"),
        coalesce(sum(when(col("sz") < 5, col("sz"))), lit(0L))
          .cast("bigint").as("rows_at_risk"))
      .localCheckpoint(false) // 6 rows: chosen-level probe + output
    val rows = stats.orderBy("level").collect()
    // coarsening only merges groups, so risk must be non-increasing —
    // a violated monotonicity means the ladder levels are not nested
    rows.sliding(2).foreach { case Array(a, b) =>
      require(a.getLong(3) >= b.getLong(3),
        s"k-anonymity ladder not monotone: level ${a.getLong(0)} risk " +
          s"${a.getLong(3)} < level ${b.getLong(0)} risk ${b.getLong(3)}")
    case _ => ()
    }
    // a corpus with < 5 documents satisfies NO ladder level — the
    // oracle's scalar subquery then yields NULL and `level = NULL` makes
    // every `chosen` NULL; reduceOption mirrors that instead of throwing
    // on the empty min (round-16 ADVICE)
    val chosen = rows.filter(_.getLong(3) == 0L).map(_.getLong(0))
      .reduceOption(_ min _)
    val chosenCol = chosen.fold(lit(null).cast("bigint"))(c =>
      (col("level") === c).cast("bigint"))
    stats.select(col("level").cast("bigint").as("level"), col("n_groups"),
      col("n_violating"), col("rows_at_risk"),
      chosenCol.as("chosen"))
      .orderBy("level")
  }

  /** L-DIVERSITY audit — k-anonymity's companion (Machanavajjhala et
    * al.): a QI group can be k-large yet still leak if every member
    * shares the SENSITIVE value, so each (lang, source) group reports
    * the number of DISTINCT sensitive values (the length bucket
    * `n_chars div 100` stands in for the sensitive attribute) and
    * whether it clears l = 3. One hash aggregate over the corpus —
    * count + count-distinct per group, fully map-side-combining; at
    * 100 TB the output is |lang×source|-sized. Distinct-l (not entropy-
    * l) keeps every emitted number an exact integer. */
  val lDiversity: Reg = Reg.sql(
    "llm_l_diversity",
    """SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS group_n,
      |       CAST(COUNT(DISTINCT n_chars // 100) AS BIGINT) AS l_distinct,
      |       CAST(COUNT(DISTINCT n_chars // 100) >= 3 AS BIGINT) AS diverse
      |FROM documents GROUP BY 1, 2 ORDER BY lang, source""".stripMargin) {
    (s, dir) =>
      Tables.documents(s, dir)
        .groupBy("lang", "source")
        .agg(count(lit(1)).cast("bigint").as("group_n"),
          countDistinct(expr("n_chars div 100")).cast("bigint").as("l_distinct"))
        .select(col("lang"), col("source"), col("group_n"), col("l_distinct"),
          (col("l_distinct") >= 3).cast("bigint").as("diverse"))
        .orderBy("lang", "source")
  }

  /** SOURCE CONCENTRATION via the exact GINI coefficient over per-source
    * character mass — the curation dashboard number behind "is one
    * source dominating the mix" (llm_source_mix gives the shares; this
    * is the scalar a threshold alarm wants). One corpus aggregate to the
    * |sources|-row weight frame, then the closed form
    * G = Σᵢ (2i − n − 1)·w₍ᵢ₎ / (n·Σw) on that tiny frame (the window
    * is |sources|-sized — domain-bounded, the licensed case). All-
    * integer arithmetic; gini_micro by floor division, exact in both
    * engines. */
  val sourceGini: Reg = Reg.sql(
    "llm_source_gini",
    """WITH w AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS w
      |           FROM documents GROUP BY source),
      |r AS (SELECT w, CAST(ROW_NUMBER() OVER (ORDER BY w, source) AS BIGINT)
      |               AS i, CAST(COUNT(*) OVER () AS BIGINT) AS n
      |      FROM w)
      |SELECT CAST(MAX(n) AS BIGINT) AS n_sources,
      |       CAST(SUM(w) AS BIGINT) AS total_chars,
      |       CAST((1000000 * SUM((2 * i - n - 1) * w))
      |              // (MAX(n) * SUM(w)) AS BIGINT) AS gini_micro
      |FROM r""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Tables.documents(s, dir)
      .groupBy("source").agg(sum("n_chars").cast("bigint").as("w"))
    val win = Window.orderBy("w", "source") // |sources|-row frame
    val r = w
      .withColumn("i", row_number().over(win).cast("bigint"))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(lit(1))).cast("bigint"))
    // Numerator in DECIMAL(38,0) (the o63/o66 discipline): a BIGINT sum
    // of (2i−n−1)·w wraps silently with ANSI off once n·Σchars passes
    // ~9.2e18 (≈ a TB-scale corpus), while DuckDB promotes to HUGEINT
    // and stays exact — the decimal path keeps both engines exact at any
    // corpus size (bound: n ≤ 1e6 sources × Σw ≤ 9.2e18 chars ⇒ |num| <
    // 1e25, ×1e6 < 1e31, well inside 38 digits).
    r.agg(max("n").cast("bigint").as("n_sources"),
      sum("w").cast("bigint").as("total_chars"),
      sum((lit(2L) * col("i") - col("n") - 1L).cast("decimal(38,0)") *
        col("w").cast("decimal(38,0)")).as("num"))
      .select(col("n_sources"), col("total_chars"),
        expr("""(CAST(1000000 AS DECIMAL(38,0)) * num) div
                (CAST(n_sources AS DECIMAL(38,0)) *
                 CAST(total_chars AS DECIMAL(38,0)))""")
          .cast("bigint").as("gini_micro"))
  }

  /** HEAPS-LAW VOCABULARY GROWTH — distinct-word count as the corpus
    * grows in doc_id order, at ten checkpoints: the curve whose slope
    * (Heaps' β) says whether more data still buys vocabulary, the
    * standard corpus-saturation diagnostic next to llm_ngram_novelty's
    * per-doc view. Scale shape: docs rank WITHOUT a corpus window (the
    * two-level prefix sum on the doc_id domain — one count per doc, so
    * cum_before IS the 0-based rank); each word reduces to its FIRST
    * decile (min over one map-side-combining aggregate after the single
    * corpus explode); the curve is a 10-row rollup of the |vocab|-sized
    * first-occurrence frame, cumulated over the 10-row frame itself.
    * Every number is an exact integer. */
  val vocabGrowth: Reg = Reg.sql(
    "llm_vocab_growth",
    """WITH d AS (SELECT doc_id, text,
      |                  CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1
      |                    AS BIGINT) AS rk,
      |                  CAST(COUNT(*) OVER () AS BIGINT) AS nd
      |           FROM documents),
      |w AS (SELECT rk * 10 // nd AS decile, UNNEST(string_split(text, ' '))
      |               AS word
      |      FROM d),
      |first_dec AS (SELECT word, CAST(MIN(decile) AS BIGINT) AS fd
      |              FROM w WHERE word <> '' GROUP BY word),
      |per AS (SELECT fd AS decile, CAST(COUNT(*) AS BIGINT) AS new_words
      |        FROM first_dec GROUP BY fd),
      |lv AS (SELECT UNNEST(generate_series(0, 9)) AS decile)
      |SELECT CAST(lv.decile AS BIGINT) AS decile,
      |       CAST(COALESCE(per.new_words, 0) AS BIGINT) AS new_words,
      |       CAST(SUM(COALESCE(per.new_words, 0)) OVER (ORDER BY lv.decile
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |         AS BIGINT) AS cum_words
      |FROM lv LEFT JOIN per ON per.decile = lv.decile
      |ORDER BY decile""".stripMargin) { (s, dir) =>
    import graft.operators.PrefixSum
    val docs = Tables.documents(s, dir).select("doc_id", "text")
      .withColumn("one", lit(1L))
      .localCheckpoint(false) // id-domain probe + the cumsum share it
    // doc rank without a global window: one row per doc_id, so the
    // two-level cumsum's cum_before is exactly the 0-based rank; bucket
    // width scaled so the offset frame stays ≤ ~2M rows at any id domain
    val maxIdRow = docs.agg(max("doc_id")).head()
    val maxId = if (maxIdRow.isNullAt(0)) 0L else maxIdRow.getLong(0)
    val ranked = PrefixSum.globalCumsum(docs, "doc_id", "one",
      math.max(4096L, maxId / 2000000L + 1L))
      .localCheckpoint(false) // the count probe + the explode share it
    val nd = math.max(1L, ranked.count())
    val words = ranked
      .select(expr(s"cum_before * 10 div $nd").cast("bigint").as("decile"),
        explode(split(col("text"), " ")).as("word"))
      .where(col("word") =!= "")
    val firstDec = words.groupBy("word").agg(min("decile").as("fd"))
    val per = firstDec.groupBy("fd").agg(count(lit(1)).cast("bigint").as("new_words"))
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val spine = (0L to 9L).toDF("decile") // always the full 10-row curve
    spine
      .join(per.select(col("fd").as("decile"), col("new_words")),
        Seq("decile"), "left")
      .select(col("decile").cast("bigint").as("decile"),
        coalesce(col("new_words"), lit(0L)).cast("bigint").as("new_words"))
      .withColumn("cum_words",
        sum("new_words").over(Window.orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("bigint")) // 10-row frame
      .orderBy("decile")
  }

  lazy val all: Seq[Reg] = Seq(
    suffixRepeats, kAnonymity, lDiversity, sourceGini, vocabGrowth,
    rougeOverlap, mmrRerank, tfidfTerms, spanCorrupt, mixTemperature,
    cdcChunks, editDistanceDedup, jwLinkage, wordKlBySource,
    streamNearDup, incrementalClusters, datasetCard, shardAssign, dupSpanStrip,
    curationFunnel, communityLpa, dupSpanCoverage,
    exactDedup, textStats, qualityScore, langIdHeuristic, fingerprint,
    annBrute, minhashNearDup, simhashNearDup, annLsh, annIvf, embedNearDup,
    multimodal, tokenEstimate, ngramJaccard, winnowNearDup, repetitionFilter,
    containmentDedup, containmentSampled, containmentAdaptive,
    curriculumOrder, embeddingDimStats,
    sourceMix, semanticDedup, prefixDedup, decontaminate, splitAssign,
    splitLeakage, dedupPurgePlan,
    dupClusters, dupChainClusters, charTerms, stratifiedSample, ngramCounts,
    segmentDedup, gopherRules, seqPacking, contextChunks, piiScrub,
    linkRank, incrementalDedup, boilerplateStrip, importanceResample,
    bm25TopK, hybridRrf, retrievalNdcg, embedCentroids, clusterReps,
    linkTriangles,
    weightedSample,
    driftKs, imageMeta, audioMeta, videoMeta, pcmFeatures, pngPixels,
    gifPixels, jpegPixels, videoFrames, driftChi2, driftPsi, imagePhashDedup,
    imageResize, audioSpectrum)

  /** Training-shard assignment by GLOBAL cumulative token count — the
    * writer-side step after packing/splitting: every doc gets the shard id
    * `cum_tokens_before DIV shardTokens` in stable doc_id order, so shard
    * boundaries are a pure function of the corpus (re-runs, re-partitions
    * and engine changes produce the identical layout — the property object
    * stores need for resumable exports). The global running sum goes
    * through `PrefixSum.globalCumsum` (two-level bucketed prefix: hash-
    * partitioned within-bucket windows + a corpus/width-sized offset frame)
    * — never a single-partition ORDER BY window; the oracle IS that naive
    * window, so the gate proves the two-level decomposition exact. Token
    * counts use the chars/4 heuristic on the stored n_chars (integral,
    * engine-identical). */
  val shardAssign: Reg = Reg.sql(
    "llm_shard_assign",
    """WITH t AS (SELECT doc_id, n_chars // 4 AS toks FROM documents),
      |c AS (SELECT doc_id, toks,
      |        CAST(COALESCE(SUM(toks) OVER (ORDER BY doc_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |             AS BIGINT) AS cum_before
      |      FROM t)
      |SELECT doc_id, CAST(toks AS BIGINT) AS toks, cum_before,
      |       CAST(cum_before // 16384 AS BIGINT) AS shard_id
      |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val t = Tables.documents(s, dir)
      // n_chars >= 0, so truncating DIV == DuckDB's floor //
      .select(col("doc_id"), expr("CAST(n_chars DIV 4 AS BIGINT)").as("toks"))
    graft.operators.PrefixSum.globalCumsum(t, "doc_id", "toks", bucketWidth = 1024L)
      .select(col("doc_id"), col("toks"), col("cum_before"),
        expr("CAST(cum_before DIV 16384 AS BIGINT)").as("shard_id"))
      .orderBy("doc_id")
  }

  /** Categorical drift monitor: Pearson chi-square independence test of
    * the (source-group × language) contingency table — the discrete
    * complement of `llm_drift_ks` (which watches a continuous feature).
    * Per-cell terms (o−e)²/e are floor-quantized to micro units BEFORE
    * the sum, so aggregation order is irrelevant and the statistic
    * hash-gates exactly (the documented lattice-then-aggregate rule; the
    * quantization changes the statistic by < 10·1e-6, far below any
    * decision threshold). The dense cell grid is groups × langs — sparse
    * (zero-observation) cells still contribute their e term, which a
    * naive observed-rows-only join silently drops. Scale: one corpus
    * aggregate; everything after is a ≤(2×|langs|)-row frame. */
  val driftChi2: Reg = Reg.sql(
    "llm_drift_chi2",
    """WITH t AS (SELECT CASE WHEN source = 'src0' THEN 'a' ELSE 'b' END AS g,
      |                  lang FROM documents),
      |o AS (SELECT g, lang, CAST(COUNT(*) AS BIGINT) AS o FROM t GROUP BY 1, 2),
      |grid AS (SELECT g.g, l.lang
      |         FROM (SELECT DISTINCT g FROM t) g
      |         CROSS JOIN (SELECT DISTINCT lang FROM t) l),
      |dense AS (SELECT grid.g, grid.lang, COALESCE(o.o, 0) AS o
      |          FROM grid LEFT JOIN o ON o.g = grid.g AND o.lang = grid.lang),
      |rt AS (SELECT g, CAST(SUM(o) AS BIGINT) AS r FROM dense GROUP BY 1),
      |ct AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS c FROM dense GROUP BY 1),
      |gt AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM dense),
      |cells AS (
      |  SELECT d.g, d.lang,
      |    CAST(FLOOR(((CAST(d.o AS DOUBLE) -
      |        (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE))) *
      |      (CAST(d.o AS DOUBLE) -
      |        (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE))) /
      |      (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE))) * 1e6)
      |      AS BIGINT) AS term
      |  FROM dense d JOIN rt ON rt.g = d.g JOIN ct ON ct.lang = d.lang
      |  CROSS JOIN gt),
      |nl AS (SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) AS k FROM t)
      |SELECT (SELECT CAST(r AS BIGINT) FROM rt WHERE g = 'a') AS n_a,
      |       (SELECT CAST(r AS BIGINT) FROM rt WHERE g = 'b') AS n_b,
      |       (SELECT k - 1 FROM nl) AS dof,
      |       CAST(SUM(term) AS BIGINT) AS chi2_micro
      |FROM cells""".stripMargin) { (s, dir) =>
    val t = Tables.documents(s, dir)
      .select(when(col("source") === "src0", "a").otherwise("b").as("g"),
        col("lang"))
    val o = t.groupBy("g", "lang").agg(count(lit(1)).as("o"))
    val grid = t.select("g").distinct().crossJoin(t.select("lang").distinct())
    val dense = grid.join(o, Seq("g", "lang"), "left")
      .select(col("g"), col("lang"), coalesce(col("o"), lit(0L)).as("o"))
    val rt = dense.groupBy("g").agg(sum("o").as("r"))
    val ct = dense.groupBy("lang").agg(sum("o").as("c"))
    val gt = dense.agg(sum("o").as("n"))
    // gt/nA/nB/dof are 1-row (or 2-row bounded) scalar frames — the
    // 1-row-crossJoin precedent: no explicit hint, AQE broadcasts
    val cells = dense.join(rt, "g").join(ct, "lang").crossJoin(gt)
      .select(col("g"), expr(
        """CAST(FLOOR(((CAST(o AS DOUBLE) -
          |    (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE))) *
          |  (CAST(o AS DOUBLE) -
          |    (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE))) /
          |  (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE))) * 1e6)
          |  AS BIGINT)""".stripMargin).as("term"))
    // all scalars in ONE 1-row aggregate: a single 1-row x 1-row
    // crossJoin plans as a BroadcastNestedLoopJoin (the established
    // scalar-frame idiom), never a CartesianProduct chain
    val scalars = dense.agg(
      sum(when(col("g") === "a", col("o"))).as("n_a"),
      sum(when(col("g") === "b", col("o"))).as("n_b"),
      (countDistinct("lang") - 1).as("dof"))
    cells.agg(sum("term").as("chi2_micro"))
      .crossJoin(scalars)
      .select(col("n_a"), col("n_b"), col("dof"), col("chi2_micro"))
  }

  /** Population Stability Index — the third leg of the drift-monitor
    * family (llm_drift_ks: continuous two-sample; llm_drift_chi2:
    * categorical independence; PSI: the industry-standard binned
    * distribution-shift score with its conventional 0.2 alert threshold).
    * n_chars bins into fixed 128-char buckets over the UNION of observed
    * bins; Laplace +1 smoothing makes empty-bin terms finite exactly the
    * way production PSI implementations do. Each bin term
    * (pa−pb)·ln(pa/pb) floor-quantizes to micro units BEFORE the sum
    * (identical IEEE op order both engines — the chi2 discipline), and the
    * alert verdict compares INTEGERS (psi_micro ≥ 200000). Scale: one
    * corpus aggregate per population; everything after runs on the
    * domain-bounded bin frame; totals are 1-row scalar crossJoins. */
  val driftPsi: Reg = Reg.sql(
    "llm_drift_psi",
    """WITH a AS (SELECT n_chars // 128 AS bin, CAST(COUNT(*) AS BIGINT) AS ca
      |           FROM documents WHERE source = 'src0' GROUP BY 1),
      |b AS (SELECT n_chars // 128 AS bin, CAST(COUNT(*) AS BIGINT) AS cb
      |      FROM documents WHERE source <> 'src0' GROUP BY 1),
      |bins AS (SELECT bin FROM a UNION SELECT bin FROM b),
      |g AS (SELECT bins.bin, COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
      |      FROM bins LEFT JOIN a USING (bin) LEFT JOIN b USING (bin)),
      |na AS (SELECT CAST(COALESCE(SUM(ca), 0) AS BIGINT) AS na FROM a),
      |nb AS (SELECT CAST(COALESCE(SUM(cb), 0) AS BIGINT) AS nb FROM b),
      |k AS (SELECT CAST(COUNT(*) AS BIGINT) AS nbins FROM bins),
      |t AS (SELECT bin,
      |        CAST(ca + 1 AS DOUBLE) / CAST(na + nbins AS DOUBLE) AS pa,
      |        CAST(cb + 1 AS DOUBLE) / CAST(nb + nbins AS DOUBLE) AS pb
      |      FROM g CROSS JOIN na CROSS JOIN nb CROSS JOIN k)
      |SELECT (SELECT nbins FROM k) AS n_bins,
      |       CAST(SUM(CAST(FLOOR(((pa - pb) * LN(pa / pb)) * 1e6) AS BIGINT))
      |            AS BIGINT) AS psi_micro,
      |       CAST(SUM(CAST(FLOOR(((pa - pb) * LN(pa / pb)) * 1e6) AS BIGINT))
      |            AS BIGINT) >= 200000 AS drifted
      |FROM t""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val a = docs.where(col("source") === "src0")
      .groupBy(expr("n_chars DIV 128").as("bin")).agg(count(lit(1)).as("ca"))
    val b = docs.where(col("source") =!= "src0")
      .groupBy(expr("n_chars DIV 128").as("bin")).agg(count(lit(1)).as("cb"))
    val bins = a.select("bin").unionByName(b.select("bin")).distinct()
    val g = bins.join(a, Seq("bin"), "left").join(b, Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    // 1-row scalar frames, the chi2 crossJoin idiom
    val na = a.agg(coalesce(sum("ca"), lit(0L)).as("na"))
    val nb = b.agg(coalesce(sum("cb"), lit(0L)).as("nb"))
    val k = bins.agg(count(lit(1)).as("nbins"))
    val terms = g.crossJoin(na).crossJoin(nb).crossJoin(k)
      .select(col("nbins"), expr(
        """CAST(FLOOR(((CAST(ca + 1 AS DOUBLE) / CAST(na + nbins AS DOUBLE) -
          |      CAST(cb + 1 AS DOUBLE) / CAST(nb + nbins AS DOUBLE)) *
          |    LN((CAST(ca + 1 AS DOUBLE) / CAST(na + nbins AS DOUBLE)) /
          |       (CAST(cb + 1 AS DOUBLE) / CAST(nb + nbins AS DOUBLE)))) * 1e6)
          |  AS BIGINT)""".stripMargin).as("term"))
    terms.agg(max("nbins").as("n_bins"), sum("term").as("psi_micro"))
      .withColumn("drifted", col("psi_micro") >= 200000L)
  }
}
