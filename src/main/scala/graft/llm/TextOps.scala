package graft.llm

import graft.{QueryDef, Tables}
import graft.llm.DedupApi
import graft.functions.TextHashFunctions.{ngramHashes, sortedIntersectCount}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-training-data text pipeline (SURVEY.md §2i + builder brief):
  * exact dedup, MinHash-LSH near-dup, SimHash near-dup, n-gram Jaccard
  * near-dup, language-ID, quality scoring, token counting, document
  * fingerprinting, per-language text stats.
  *
  * Scale design: every near-dup variant is CANDIDATE-GENERATION +
  * VERIFY — banding (MinHash bands / SimHash blocks / blocking keys)
  * bounds the pairwise work to colliding candidates, never O(n²) over
  * the corpus. The only all-pairs step is inside a (lang, source)
  * block, the documented "exact variant within a block" baseline.
  *
  * The synthetic corpus contains no natural duplicates (verified), so
  * dedup queries plant them: a copy of every 10th document is appended
  * (same text for exact dedup; last token dropped for near-dup, giving
  * Jaccard ≈ (n-3)/(n-2) on 3-shingles). The oracle SQL replays the
  * identical augmentation.
  */
object TextOps {

  /** documents ∪ exact copies of every 10th doc (ids +100000). */
  private def withExactDups(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "lang", "source", "text")
    docs.unionByName(
      docs.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 100000))
  }

  /** documents ∪ near-copies (last token dropped) of every 10th doc. */
  private def withNearDups(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "lang", "source", "text")
    docs.unionByName(
      docs.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 100000)
        .withColumn("text",
          expr("""array_join(slice(split(text, ' '), 1,
                                   size(split(text, ' ')) - 1), ' ')""")))
  }

  private val augExactSql =
    """aug AS (
      |  SELECT doc_id, lang, source, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, lang, source, text
      |  FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  private val augNearSql =
    """aug AS (
      |  SELECT doc_id, lang, source, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, lang, source,
      |    array_to_string(string_split(text, ' ')[1:len(string_split(text, ' ')) - 1], ' ')
      |  FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  /** Exact dedup: normalize → hash → hash-partitioned group-by keeping
    * the smallest doc id. One shuffle on the 128-bit digest; at 100 TB
    * the digest group-by is the canonical exact-dedup plan (no text
    * comparison ever crosses the wire, only 16-byte keys). */
  private val dedupExact = QueryDef(
    "llm_dedup_exact",
    (s, d) =>
      DedupApi.exactDedup(withExactDups(s, d), "doc_id", "text")
        .select("keep_doc_id", "n_copies", "h")
        .orderBy("keep_doc_id"),
    Some(s"""WITH $augExactSql
             SELECT min(doc_id) AS keep_doc_id,
               CAST(count(*) AS BIGINT) AS n_copies,
               md5(lower(trim(text))) AS h
             FROM aug GROUP BY md5(lower(trim(text)))
             ORDER BY keep_doc_id"""))

  /** MinHash oracle: the full banded-LSH pipeline replayed in DuckDB
    * with [[DuckHash]]'s bit-exact hash SQL. CTE mirror of the Spark
    * plan: tokens → XXH64 per token (in doc order) → splitmix64
    * trigram chain (NGramHashes' seed constant) → distinct shingle
    * hashes → 64 slot minima over SIGNED longs → 8-slot band slices
    * hashed with the XXH64.hashLong chain (seed 42, Spark's
    * xxhash64-over-array semantics) → band equi-join candidates →
    * exact-Jaccard ≥ 0.5 verify. */
  private lazy val minhashOracleSql: String = {
    import DuckHash.{hashLongSigned, mixAddSigned, xxh64Str}
    // NGramHashes chain seed (TextHashes.scala): 0x517cc1b727220a95.
    val tri = mixAddSigned(
      mixAddSigned(mixAddSigned("5871781006564002453::BIGINT", "ths[i]"),
        "ths[i+1]"),
      "ths[i+2]")
    s"""WITH $augNearSql,
       |tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM aug
       |        WHERE len(string_split(text, ' ')) >= 3),
       |tpos AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS pos, toks FROM tok),
       |th AS (SELECT doc_id, pos, ${xxh64Str("toks[pos]")} AS h FROM tpos),
       |thl AS (SELECT doc_id, list(h ORDER BY pos) AS ths FROM th GROUP BY doc_id),
       |tri AS (SELECT doc_id, unnest(generate_series(1, len(ths) - 2)) AS i, ths FROM thl),
       |shd AS (SELECT DISTINCT doc_id, $tri AS sh FROM tri),
       |slot AS (SELECT doc_id, sl.slot AS slot, min(${mixAddSigned("sh", "slot")}) AS m
       |         FROM shd CROSS JOIN (SELECT unnest(generate_series(0::BIGINT, 63)) AS slot) sl
       |         GROUP BY doc_id, sl.slot),
       |sig AS (SELECT doc_id, list(m ORDER BY slot) AS sig FROM slot GROUP BY doc_id),
       |bnd AS (SELECT doc_id, unnest(generate_series(0, 7)) AS band, sig FROM sig),
       |bh AS (SELECT doc_id, band,
       |         list_reduce(list_prepend(42::BIGINT, sig[band * 8 + 1 : band * 8 + 8]),
       |           (s, x) -> ${hashLongSigned("x", "s")}) AS bh
       |       FROM bnd),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bh a JOIN bh b ON a.band = b.band AND a.bh = b.bh
       |         WHERE a.doc_id < b.doc_id),
       |sets AS (SELECT doc_id, list(sh) AS shs FROM shd GROUP BY doc_id),
       |ver AS (SELECT doc_a, doc_b, len(list_intersect(sa.shs, sb.shs)) AS inter,
       |          len(sa.shs) AS la, len(sb.shs) AS lb
       |        FROM cand JOIN sets sa ON sa.doc_id = cand.doc_a
       |                  JOIN sets sb ON sb.doc_id = cand.doc_b)
       |SELECT doc_a, doc_b,
       |  round(CAST(inter AS DOUBLE) / (la + lb - inter), 4) AS j
       |FROM ver
       |WHERE round(CAST(inter AS DOUBLE) / (la + lb - inter), 4) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** SimHash oracle: XXH64 token hashes → per-bit majority vote over a
    * 64-row bit table → signed 64-bit signature via bit_or → ALL-pairs
    * hamming ≤ 6 (sound because the Spark multi-index is complete for
    * hamming ≤ 6 — see the query doc). */
  private lazy val simhashOracleSql: String = {
    import DuckHash.{bitTableValues, xxh64StrUnsigned}
    s"""WITH $augNearSql,
       |tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM aug),
       |tpos AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS pos, toks FROM tok),
       |th AS (SELECT doc_id, ${xxh64StrUnsigned("toks[pos]")} AS hu FROM tpos),
       |bits AS (SELECT doc_id, bs.b AS b, max(bs.p) AS p,
       |           sum(CASE WHEN (hu // bs.pu) % 2 = 1 THEN 1 ELSE -1 END) AS vote
       |         FROM th CROSS JOIN (VALUES $bitTableValues) bs(b, pu, p)
       |         GROUP BY doc_id, bs.b),
       |sig AS (SELECT doc_id, bit_or(CASE WHEN vote > 0 THEN p ELSE 0 END) AS sim
       |        FROM bits GROUP BY doc_id),
       |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |            CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
       |          FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 6
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** n-gram Jaccard pairs at J ≥ 0.6 within a (lang, source) block —
    * shared by `llm_dedup_ngram` (the pair report) and
    * `llm_dup_clusters` (the edge list). Shingles are compared as
    * sorted xxhash64 arrays: the pairwise stage ships 8-byte hashes
    * instead of strings and counts the intersection with a codegen'd
    * two-pointer merge (64-bit collisions are ~1e-9 at this
    * cardinality — the oracle stays string-exact). */
  /** Block-size guard memo: the guard verdict is a property of the
    * immutable (session, sfDir) input, so pay its count job once, not
    * inside every ngram-query execution (same rationale as
    * SqlSurface's view-registration memo). */
  private val blockGuardOk =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), java.lang.Boolean]()

  private def ngramPairs(s: SparkSession, d: String): DataFrame = {
    // Block-size guard: the pairwise stage below is O(block²) within a
    // (lang, source) block — the documented bounded-scale baseline the
    // banded minhash path approximates. At corpus scale a single
    // (en, web) block is most of the corpus, so refuse to launch past
    // the cap instead of silently going quadratic.
    blockGuardOk.computeIfAbsent((s, d), _ => {
      val maxBlock = withNearDups(s, d)
        .groupBy("lang", "source").count()
        .agg(max("count")).collect()(0).getLong(0)
      require(maxBlock <= 20000L,
        s"ngramPairs is the blocked all-pairs baseline (largest block " +
          s"$maxBlock > 20000 docs); use llm_dedup_minhash's banded path " +
          "at corpus scale")
      java.lang.Boolean.TRUE
    })
    val sh = withNearDups(s, d)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .withColumn("shs",
        sort_array(array_distinct(ngramHashes(col("toks"), 3))))
      .select("doc_id", "lang", "source", "shs")
    val a = sh.select(col("doc_id").as("doc_a"), col("lang"), col("source"),
      col("shs").as("sh_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("lang"), col("source"),
      col("shs").as("sh_b"))
    a.join(b, Seq("lang", "source"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("inter",
        sortedIntersectCount(col("sh_a"), col("sh_b")).cast("double"))
      .withColumn("j",
        round(col("inter") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 4))
      .filter(col("j") >= 0.6)
      .select("doc_a", "doc_b", "j")
  }

  /** The matching oracle CTE chain ending in `pairs(doc_a, doc_b, j)`. */
  private val ngramPairsSql =
    s"""$augNearSql,
       |tok AS (SELECT doc_id, lang, source, string_split(text, ' ') AS toks
       |        FROM aug),
       |sh AS (SELECT doc_id, lang, source,
       |         list_distinct(list_transform(generate_series(1, len(toks) - 2),
       |           i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS sh
       |       FROM tok WHERE len(toks) >= 3),
       |pairs AS (
       |  SELECT doc_a, doc_b, j FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |      round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |            / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS j
       |    FROM sh a JOIN sh b
       |      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
       |  WHERE j >= 0.6)""".stripMargin

  /** n-gram Jaccard near-dup, exact within a (lang, source) block:
    * the oracle-checkable baseline the banded variants approximate. */
  private val dedupNgram = QueryDef(
    "llm_dedup_ngram",
    (s, d) => ngramPairs(s, d).orderBy("doc_a", "doc_b"),
    Some(s"""WITH $ngramPairsSql
             SELECT doc_a, doc_b, j FROM pairs ORDER BY doc_a, doc_b"""))

  /** Duplicate-CLUSTER formation: connected components over the
    * near-dup pair graph (keep one doc per cluster, not per pair —
    * pairs (a,b),(b,c) must collapse to ONE keeper). Spark side is
    * [[DedupApi.dupClusters]]'s distributed min-label propagation;
    * the oracle is DuckDB's recursive CTE computing min reachable id —
    * independent algorithms, identical fixpoint. */
  private val dupClustersQ = QueryDef(
    "llm_dup_clusters",
    (s, d) => {
      val labels = DedupApi.dupClusters(
        ngramPairs(s, d).select("doc_a", "doc_b"), "doc_a", "doc_b")
      val w = Window.partitionBy("cluster")
      labels.select(col("node").as("doc_id"), col("cluster"))
        .withColumn("n_members", count(lit(1)).over(w))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE $ngramPairsSql,
             edges AS (
               SELECT doc_a AS src, doc_b AS dst FROM pairs
               UNION
               SELECT doc_b, doc_a FROM pairs),
             cc(node, label) AS (
               SELECT src, src FROM edges
               UNION
               SELECT e.dst, c.label FROM cc c JOIN edges e ON e.src = c.node),
             labels AS (
               SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS cluster
               FROM cc GROUP BY node)
             SELECT doc_id, cluster,
               CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS n_members
             FROM labels ORDER BY doc_id"""))

  /** MinHash + LSH banded near-dup — THE 100 TB dedup path: 64 minhash
    * slots, 8 bands × 8 rows, band-hash equi-join for candidates,
    * exact-Jaccard verify on candidates only. Cost is O(corpus) +
    * O(colliding pairs); the verify join ships only candidate ids +
    * hashed shingles, never text.
    *
    * Band geometry: r=8 rows/band puts the S-curve threshold at
    * (1/8)^(1/8) ≈ 0.77 — planted near-dups (J ≈ 0.97) miss with
    * probability (1-J^8)^8 < 5e-6, while this corpus's incidental
    * J ≈ 0.3 pairs collide at ~5e-4 (16×4 banding measured ~2M false
    * candidates at sf0.1; 8×8 keeps it in the thousands).
    *
    * The oracle replays the ENTIRE pipeline bit-for-bit in DuckDB —
    * XXH64 token hashes, splitmix64 trigram chain, 64-slot signature,
    * per-band XXH64.hashLong chain, band equi-join, exact-Jaccard
    * verify — via [[DuckHash]]'s HUGEINT-domain SQL. Banding is lossy
    * (a J = 0.55 pair may collide in no band), so unlike the SimHash
    * multi-index there is no banding-free shortcut: hash-exactness
    * REQUIRES reproducing the hash family, and any single wrong bit
    * changes the candidate set and fails the compare. */
  private val dedupMinhash = QueryDef(
    "llm_dedup_minhash",
    (s, d) => {
      // One xxhash64 pass per shingle, then the 64-slot signature in a
      // single codegen'd MinHashSig loop (the interpreted lambda
      // version measured 27 s at sf0.1; this runs in well under 1 s).
      val sh = withNearDups(s, d)
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 3)
        .withColumn("shs", sort_array(array_distinct(ngramHashes(col("toks"), 3))))
        .select("doc_id", "shs")
      val cands = DedupApi.minhashCandidates(sh, "doc_id", "shs",
        numHashes = 64, bands = 8)
      DedupApi.verifyPairs(cands, sh, "doc_id", "shs", threshold = 0.5)
        .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"), col("j"))
        .orderBy("doc_a", "doc_b")
    },
    Some(minhashOracleSql))

  /** SimHash near-dup: 64-bit signature (count-weighted majority vote
    * of token-hash bits), candidates via a multi-index over PAIRS of
    * 8-bit blocks (28 combinations, 16-bit keys): any pair within
    * hamming ≤ 6 has ≥ 2 intact blocks (pigeonhole over 8 blocks), so
    * it shares at least one intact block-pair — complete, and the
    * 16-bit buckets keep candidate volume ~n²/2¹⁶ instead of the
    * single-block n²/2⁸ (measured 470 k → ~10 k pairs at sf0.1).
    *
    * Oracle: the block-pair multi-index is COMPLETE for hamming ≤ 6
    * (≤ 6 flipped bits touch ≤ 6 of 8 blocks ⇒ ≥ 2 intact blocks ⇒
    * some intact block-pair key collides — the pigeonhole argument the
    * implementation relies on), so the query's output is EXACTLY the
    * set of pairs within hamming 6 and the oracle needs no banding:
    * it recomputes the XXH64 token hashes + bit-majority signatures
    * via [[DuckHash]] and compares ALL pairs (fine at oracle scale;
    * the Spark side keeps the banded plan for corpus scale). This also
    * independently verifies the completeness claim every round: any
    * pair the multi-index missed would surface as an oracle diff. */
  private val dedupSimhash = QueryDef(
    "llm_dedup_simhash",
    (s, d) => {
      val sigs = DedupApi.simhashSignatures(withNearDups(s, d), "text")
        .select("doc_id", "sim")
      DedupApi.simhashNearPairs(sigs, "doc_id", "sim", maxHamming = 6, blocks = 8)
        .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"),
          col("hamming"))
        .orderBy("doc_a", "doc_b")
    },
    Some(simhashOracleSql))

  /** Cross-batch INCREMENTAL dedup against a persisted fingerprint
    * ledger — the shape a real training pipeline runs daily: prior
    * snapshots are never re-scanned; new data is checked against three
    * bucketed ledger tables (exact digests, winnowing-fingerprint
    * index, shingle sets) built once per snapshot by
    * [[DedupApi.writeLedger]].
    *
    * Two-snapshot fixture: the prior corpus is the documents table;
    * the new batch plants all three outcomes — exact copies (every
    * doc_id % 10 = 0, ids +100000 → caught by the digest anti-join),
    * near copies with the last token dropped (% 10 = 5, +200000 →
    * caught by fingerprint candidates + exact-Jaccard verify), and
    * token-REVERSED docs (% 10 = 3, +300000 → every 3-gram differs, so
    * they pass both phases as genuinely new). The oracle replays the
    * identical two-phase ledger dedup in SQL; the fingerprint family
    * is the portable 60-bit md5 prefix so candidates match
    * bit-for-bit cross-engine (same trade as `llm_fingerprint`).
    *
    * Scale: phase 1 joins two 8-bucket tables on the digest — zero
    * exchange on either side (asserted in ScaleDesignSpec); phase 2
    * shuffles only the batch's exploded fingerprints against the
    * pre-bucketed ledger index, then verifies candidates only.
    * Append-back (accepted docs' keys → ledger) is exercised with an
    * idempotence assertion in ApiSpec. The 3-table ledger build is
    * memoized per (session, sfDir) — a snapshot's ledger is built once
    * and amortized over every ingest, so the query (and its bench
    * timing) measures the recurring per-batch cost, which is the
    * number that matters at 100 TB. */
  private val ledgerBuilt = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), (String, String, String)]()

  private val dedupIncremental = QueryDef(
    "llm_dedup_incremental",
    (s, d) => {
      import graft.Scratch.{runTag, tmpPathRaw}
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val batch = docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 10 === 5)
          .select((col("doc_id") + 200000).as("doc_id"),
            expr("""array_join(slice(split(text, ' '), 1,
                                     size(split(text, ' ')) - 1), ' ')""")
              .as("text")))
        .unionByName(docs.filter(col("doc_id") % 10 === 3)
          .select((col("doc_id") + 300000).as("doc_id"),
            expr("array_join(reverse(split(text, ' ')), ' ')").as("text")))
      val tag = "graft_ledger_" + runTag(d)
      val (dig, fp, sets) = ledgerBuilt.computeIfAbsent((s, d), _ =>
        DedupApi.writeLedger(docs, "doc_id", "text", tag, tmpPathRaw))
      DedupApi.dedupAgainstLedger(batch, "doc_id", "text",
          dig, fp, sets, tag, tmpPathRaw, threshold = 0.6)
        .orderBy("doc_id")
    },
    Some("""WITH batch AS (
              SELECT doc_id + 100000 AS doc_id, text FROM documents
              WHERE doc_id % 10 = 0
              UNION ALL
              SELECT doc_id + 200000,
                array_to_string(string_split(text, ' ')[1:len(string_split(text, ' ')) - 1], ' ')
              FROM documents WHERE doc_id % 10 = 5
              UNION ALL
              SELECT doc_id + 300000,
                array_to_string(list_reverse(string_split(text, ' ')), ' ')
              FROM documents WHERE doc_id % 10 = 3),
            led_dig AS (SELECT md5(lower(trim(text))) AS h, doc_id FROM documents),
            exact_hit AS (
              SELECT b.doc_id, CAST(min(p.doc_id) AS BIGINT) AS eprior
              FROM (SELECT doc_id, md5(lower(trim(text))) AS h FROM batch) b
              JOIN led_dig p USING (h) GROUP BY b.doc_id),
            led_tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
            bat_tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM batch
                        WHERE doc_id NOT IN (SELECT doc_id FROM exact_hit)),
            led_fp AS (
              SELECT doc_id, unnest(list_distinct(list_transform(
                  generate_series(1, len(hashes) - 3),
                  i -> list_min(hashes[i:i+3])))) AS fp
              FROM (SELECT doc_id,
                      list_transform(generate_series(1, len(toks) - 2),
                        i -> CAST(('0x' || substring(md5(toks[i] || ' ' ||
                               toks[i+1] || ' ' || toks[i+2]), 1, 15))
                             AS BIGINT)) AS hashes
                    FROM led_tok WHERE len(toks) >= 6)),
            bat_fp AS (
              SELECT doc_id, unnest(list_distinct(list_transform(
                  generate_series(1, len(hashes) - 3),
                  i -> list_min(hashes[i:i+3])))) AS fp
              FROM (SELECT doc_id,
                      list_transform(generate_series(1, len(toks) - 2),
                        i -> CAST(('0x' || substring(md5(toks[i] || ' ' ||
                               toks[i+1] || ' ' || toks[i+2]), 1, 15))
                             AS BIGINT)) AS hashes
                    FROM bat_tok WHERE len(toks) >= 6)),
            cand AS (
              SELECT DISTINCT b.doc_id, p.doc_id AS pid
              FROM bat_fp b JOIN led_fp p ON b.fp = p.fp),
            led_sh AS (
              SELECT doc_id, list_distinct(list_transform(
                generate_series(1, len(toks) - 2),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
              FROM led_tok WHERE len(toks) >= 3),
            bat_sh AS (
              SELECT doc_id, list_distinct(list_transform(
                generate_series(1, len(toks) - 2),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
              FROM bat_tok WHERE len(toks) >= 3),
            near_hit AS (
              SELECT doc_id, CAST(min(pid) AS BIGINT) AS nprior FROM (
                SELECT c.doc_id, c.pid,
                  round(CAST(len(list_intersect(a.sh, p.sh)) AS DOUBLE)
                        / len(list_distinct(list_concat(a.sh, p.sh))), 4) AS j
                FROM cand c
                JOIN bat_sh a ON c.doc_id = a.doc_id
                JOIN led_sh p ON c.pid = p.doc_id)
              WHERE j >= 0.6 GROUP BY doc_id)
            SELECT b.doc_id,
              CASE WHEN e.eprior IS NOT NULL THEN 'dup_exact'
                   WHEN n.nprior IS NOT NULL THEN 'dup_near'
                   ELSE 'new' END AS status,
              CAST(coalesce(e.eprior, n.nprior, -1) AS BIGINT) AS matched_prior
            FROM batch b
            LEFT JOIN exact_hit e ON b.doc_id = e.doc_id
            LEFT JOIN near_hit n ON b.doc_id = n.doc_id
            ORDER BY b.doc_id"""))

  /** Winnowing-style document fingerprints: rolling window (w=4) of
    * 3-gram hashes, keep the per-window minimum, distinct. Signature
    * size is bounded per doc regardless of length. The hash family
    * here is a portable 60-bit md5 prefix (identical in any engine ⇒
    * fully oracle-checkable, and lets fingerprints be compared against
    * ones computed outside Spark); for raw 100 TB throughput swap in
    * the codegen'd xxhash64 [[graft.functions.NGramHashes]] used by
    * the minhash path — winnowing semantics are hash-agnostic. */
  private val fingerprint = QueryDef(
    "llm_fingerprint",
    (s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 6)
        .withColumn("hashes", expr(
          """transform(sequence(1, size(toks) - 2),
            |  i -> CAST(conv(substring(md5(concat_ws(' ',
            |         toks[i-1], toks[i], toks[i+1])), 1, 15), 16, 10)
            |       AS BIGINT))""".stripMargin))
        .withColumn("fps", expr(
          """array_distinct(transform(sequence(1, size(hashes) - 3),
            |  i -> array_min(slice(hashes, i, 4))))""".stripMargin))
        .select(
          col("doc_id"),
          size(col("fps")).cast("long").as("n_fp"),
          array_min(col("fps")).as("min_fp"))
        .orderBy("doc_id"),
    Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks
                         FROM documents),
             h AS (SELECT doc_id,
                     list_transform(generate_series(1, len(toks) - 2),
                       i -> CAST(('0x' || substring(md5(toks[i] || ' ' ||
                              toks[i+1] || ' ' || toks[i+2]), 1, 15))
                            AS BIGINT)) AS hashes
                   FROM tok WHERE len(toks) >= 6),
             fp AS (SELECT doc_id,
                      list_distinct(list_transform(
                        generate_series(1, len(hashes) - 3),
                        i -> list_min(hashes[i:i+3]))) AS fps
                    FROM h)
             SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
               list_min(fps) AS min_fp
             FROM fp ORDER BY doc_id"""))

  /** Token counting: whitespace tokens + a BPE-ish regex tokenizer
    * (letter runs / digit runs / single punctuation). */
  private val tokenCount = QueryDef(
    "llm_token_count",
    (s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
          expr("CAST(size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS BIGINT)")
            .as("n_re_tokens"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
              CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
                AS n_re_tokens
            FROM documents ORDER BY doc_id"""))

  /** Per-language top-5 terms: explode → two-phase count → rank window
    * — the distributed heavy-hitters plan (partial counts map-side,
    * only (lang, token) partials shuffle). */
  private val textStats = QueryDef(
    "llm_text_stats",
    (s, d) => {
      val counts = Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("token"))
        .groupBy("lang", "token")
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("token").asc)
      counts
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .orderBy("lang", "rk")
    },
    Some("""SELECT lang, token, cnt, rk FROM (
              SELECT lang, token, cnt,
                row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token ASC) AS rk
              FROM (SELECT lang, token, CAST(count(*) AS BIGINT) AS cnt FROM (
                      SELECT lang, unnest(string_split(text, ' ')) AS token
                      FROM documents)
                    GROUP BY lang, token))
            WHERE rk <= 5 ORDER BY lang, rk"""))

  /** Quality scoring: token counts, type-token ratio, stopword ratio,
    * mean token length — all exact integer ratios so both engines agree
    * bit-for-bit. */
  private val qualityScore = QueryDef(
    "llm_quality_score",
    (s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .withColumn("n_unique", expr("CAST(size(array_distinct(toks)) AS BIGINT)"))
        .withColumn("n_stop",
          expr("CAST(size(filter(toks, t -> t = 'the' OR t = 'a')) AS BIGINT)"))
        .select(
          col("doc_id"), col("n_tokens"), col("n_unique"),
          round(col("n_unique").cast("double") / col("n_tokens"), 6).as("ttr"),
          round(col("n_stop").cast("double") / col("n_tokens"), 6).as("stop_ratio"),
          round((length(col("text")) - col("n_tokens") + 1).cast("double") /
            col("n_tokens"), 6).as("avg_tok_len"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id, n_tokens, n_unique,
              round(CAST(n_unique AS DOUBLE) / n_tokens, 6) AS ttr,
              round(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stop_ratio,
              round(CAST(length(text) - n_tokens + 1 AS DOUBLE) / n_tokens, 6)
                AS avg_tok_len
            FROM (
              SELECT doc_id, text,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_unique,
                CAST(len(list_filter(string_split(text, ' '),
                                     t -> t IN ('the', 'a'))) AS BIGINT) AS n_stop
              FROM documents)
            ORDER BY doc_id"""))

  /** Language ID: deterministic script/diacritic heuristic (unicode
    * ranges → zh, diacritic classes → de/es/fr, default en). The rule
    * is identical on both engines, so it is oracle-exact. */
  private val langId = QueryDef(
    "llm_lang_id",
    (s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"), col("lang"),
          when(col("text").rlike("[\\x{4e00}-\\x{9fff}]"), "zh")
            .when(col("text").rlike("[üöäß]"), "de")
            .when(col("text").rlike("[ñ¿¡]"), "es")
            .when(col("text").rlike("[éèçà]"), "fr")
            .otherwise("en").as("lang_pred"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id, lang,
              CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
                   WHEN regexp_matches(text, '[üöäß]') THEN 'de'
                   WHEN regexp_matches(text, '[ñ¿¡]') THEN 'es'
                   WHEN regexp_matches(text, '[éèçà]') THEN 'fr'
                   ELSE 'en' END AS lang_pred
            FROM documents ORDER BY doc_id"""))

  /** Per-language routing: a plain pushdown-able predicate — at 100 TB
    * `lang` would be a partition column and this becomes partition
    * pruning. */
  private val langFilter = QueryDef(
    "llm_lang_filter",
    (s, d) =>
      Tables.documents(s, d)
        .filter(col("lang") === "en")
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id"),
    Some("""SELECT doc_id, source, n_chars FROM documents
            WHERE lang = 'en' ORDER BY doc_id"""))

  /** Benchmark-contamination check: flag training docs sharing any
    * 5-gram with a holdout set (the real pipeline's "n-gram decontam"
    * step, e.g. 13-gram overlap vs eval suites — 5-grams here because
    * the synthetic docs are short). Holdout = the planted near-copies
    * (ids ≥ 100000), so every 10th doc is contaminated by
    * construction. The holdout gram set is DISTINCT + broadcast —
    * eval suites are tiny next to a 100 TB corpus, so the corpus-side
    * gram stream never shuffles; with a larger holdout, drop the
    * broadcast hint and let AQE pick a shuffle join keyed on the gram. */
  private val contamination = QueryDef(
    "llm_contamination",
    (s, d) => {
      // Hashed grams (the ngramPairs trade): grams are compared, never
      // shown — per-doc distinctness, the holdout set, and the
      // broadcast all work on 8-byte longs with zero string
      // allocation (guide §2.3; the oracle stays string-exact).
      val grams = withNearDups(s, d)
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 5)
        .select(col("doc_id"),
          explode(array_distinct(ngramHashes(col("toks"), 5))).as("gram"))
      val holdout = grams.filter(col("doc_id") >= 100000)
        .select("gram").distinct().withColumn("hit", lit(1))
      grams.filter(col("doc_id") < 100000)
        .join(broadcast(holdout), Seq("gram"), "left_outer")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_shared"))
        .filter(col("n_shared") >= 1)
        .select(col("doc_id"), col("n_grams"), col("n_shared"),
          round(col("n_shared").cast("double") / col("n_grams"), 4).as("ratio"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $augNearSql,
             tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM aug),
             g AS (SELECT doc_id, unnest(list_distinct(list_transform(
                      generate_series(1, len(toks) - 4),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                           || ' ' || toks[i+3] || ' ' || toks[i+4]))) AS gram
                   FROM tok WHERE len(toks) >= 5),
             hold AS (SELECT DISTINCT gram FROM g WHERE doc_id >= 100000),
             tr AS (SELECT doc_id, gram FROM g WHERE doc_id < 100000)
             SELECT doc_id, n_grams, n_shared,
               round(CAST(n_shared AS DOUBLE) / n_grams, 4) AS ratio
             FROM (SELECT tr.doc_id,
                     CAST(count(*) AS BIGINT) AS n_grams,
                     CAST(count(hold.gram) AS BIGINT) AS n_shared
                   FROM tr LEFT JOIN hold ON tr.gram = hold.gram
                   GROUP BY tr.doc_id)
             WHERE n_shared >= 1
             ORDER BY doc_id"""))

  /** Contamination check with a BLOOM-FILTER runtime pre-filter — the
    * big-holdout regime of `llm_contamination`: when the eval-suite
    * gram set outgrows broadcast range, the verify join must shuffle,
    * and the fix is Spark's own runtime-filter machinery
    * (BloomFilterAggregate / might_contain, the expressions behind
    * `spark.sql.optimizer.runtime.bloomFilter`): fold the holdout
    * grams into a ~100 KB bloom (always broadcastable, whatever the
    * set size), pre-filter corpus grams to probable hits, and only
    * ship those into the exact join. False positives cost a little
    * extra join input and are removed by the exact verify; false
    * negatives are impossible — so the RESULT is provably identical to
    * the exact query, and the oracle is the same SQL (hash-exact,
    * tolerance-free grading of an approximate structure). Expressions
    * reached through the public-source graftbridge seam. */
  private val contaminationBloom = QueryDef(
    "llm_contamination_bloom",
    (s, d) => {
      import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
      import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
      import org.apache.spark.sql.graftbridge.ColumnBridge
      // Hashed grams, as in llm_contamination: the bloom build/probe
      // already keyed on xxhash64(gram) — hashing the long costs the
      // same — and the exact-verify join that must shuffle in the
      // big-holdout regime now ships 8-byte keys (guide §2.3).
      val grams = withNearDups(s, d)
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 5)
        .select(col("doc_id"),
          explode(array_distinct(ngramHashes(col("toks"), 5))).as("gram"))
      val holdout = grams.filter(col("doc_id") >= 100000)
        .select("gram").distinct()
      // might_contain requires its bloom side to be a constant (or
      // scalar subquery), so materialize the ~100 KB filter on the
      // driver and embed it as a literal — a codebook-class readout
      // (same as kmeans): constant-size whatever the holdout set is,
      // and exactly what Spark's own runtime-filter rewrite injects.
      val bfBytes = holdout.agg(ColumnBridge.column(
        new BloomFilterAggregate(
          ColumnBridge.expression(s, xxhash64(col("gram"))),
          Literal(65536L), Literal(1L << 20))
          .toAggregateExpression()).as("bf"))
        .collect()(0).getAs[Array[Byte]](0)
      val candidates = grams.filter(col("doc_id") < 100000)
        .filter(ColumnBridge.column(BloomFilterMightContain(
          Literal(bfBytes, org.apache.spark.sql.types.BinaryType),
          ColumnBridge.expression(s, xxhash64(col("gram"))))))
        .select("doc_id", "gram")
      // exact verify on bloom survivors only — NO broadcast hint: this
      // join is the one that must shuffle in the big-holdout regime,
      // and the bloom has already cut its left side to probable hits
      val hits = candidates
        .join(holdout.withColumn("hit", lit(1)), Seq("gram"))
        .groupBy("doc_id").agg(count(col("hit")).as("n_shared"))
      grams.filter(col("doc_id") < 100000)
        .groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
        .join(hits, Seq("doc_id"))
        .filter(col("n_shared") >= 1)
        .select(col("doc_id"), col("n_grams"), col("n_shared"),
          round(col("n_shared").cast("double") / col("n_grams"), 4).as("ratio"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $augNearSql,
             tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM aug),
             g AS (SELECT doc_id, unnest(list_distinct(list_transform(
                      generate_series(1, len(toks) - 4),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                           || ' ' || toks[i+3] || ' ' || toks[i+4]))) AS gram
                   FROM tok WHERE len(toks) >= 5),
             hold AS (SELECT DISTINCT gram FROM g WHERE doc_id >= 100000),
             tr AS (SELECT doc_id, gram FROM g WHERE doc_id < 100000)
             SELECT doc_id, n_grams, n_shared,
               round(CAST(n_shared AS DOUBLE) / n_grams, 4) AS ratio
             FROM (SELECT tr.doc_id,
                     CAST(count(*) AS BIGINT) AS n_grams,
                     CAST(count(hold.gram) AS BIGINT) AS n_shared
                   FROM tr LEFT JOIN hold ON tr.gram = hold.gram
                   GROUP BY tr.doc_id)
             WHERE n_shared >= 1
             ORDER BY doc_id"""))

  /** Gopher-style repetition filters: per-doc duplicate-2-gram
    * fraction and most-frequent-token fraction, plus the keep/drop
    * decision. Both signals are per-row (the token histogram is a
    * per-doc group-by keyed on doc_id — co-partitioned with the doc,
    * no global state), so the filter streams at corpus scale. */
  private val repetitionFilter = QueryDef(
    "llm_repetition_filter",
    (s, d) => {
      val t = Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 2)
      val base = t.select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_toks"),
        expr("CAST(size(toks) - 1 AS BIGINT)").as("n_2g"),
        // distinct-2-gram count over hashed shingles (the ngramPairs
        // trade): same count w.h.p., no per-bigram string allocation
        size(array_distinct(ngramHashes(col("toks"), 2))).cast("long")
          .as("n_2g_d"))
      val top = t.select(col("doc_id"), explode(col("toks")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max(col("c")).cast("long").as("top_tok"))
      base.join(top, Seq("doc_id"))
        .select(col("doc_id"),
          round((col("n_2g") - col("n_2g_d")).cast("double") / col("n_2g"), 4)
            .as("dup_2g_frac"),
          round(col("top_tok").cast("double") / col("n_toks"), 4)
            .as("top_tok_frac"))
        .withColumn("keep",
          col("dup_2g_frac") < lit(0.2) && col("top_tok_frac") < lit(0.2))
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks
                         FROM documents),
             base AS (SELECT doc_id,
                        CAST(len(toks) AS BIGINT) AS n_toks,
                        CAST(len(toks) - 1 AS BIGINT) AS n_2g,
                        CAST(len(list_distinct(list_transform(
                          generate_series(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i+1]))) AS BIGINT) AS n_2g_d
                      FROM tok WHERE len(toks) >= 2),
             top AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_tok FROM (
                       SELECT doc_id, tok, count(*) AS c
                       FROM (SELECT doc_id, unnest(toks) AS tok
                             FROM tok WHERE len(toks) >= 2)
                       GROUP BY doc_id, tok)
                     GROUP BY doc_id)
             SELECT doc_id, dup_2g_frac, top_tok_frac,
               (dup_2g_frac < 0.2 AND top_tok_frac < 0.2) AS keep
             FROM (SELECT base.doc_id,
                     round(CAST(n_2g - n_2g_d AS DOUBLE) / n_2g, 4) AS dup_2g_frac,
                     round(CAST(top_tok AS DOUBLE) / n_toks, 4) AS top_tok_frac
                   FROM base JOIN top ON base.doc_id = top.doc_id)
             ORDER BY doc_id"""))

  /** The COMPOSED curation pipeline as one declarative plan, oracle-
    * checked end-to-end: quality gate (integer-ratio thresholds) →
    * exact dedup (digest group-by, min-id keep) → deterministic
    * hash-bucket train/val/test split → per-(split, lang) corpus
    * stats. What a reference user runs nightly, expressed as a single
    * Catalyst plan — filters fuse into the scan, the digest group-by
    * is the only wide stage over full rows, and the final stats
    * aggregate ships per-group partials only. Every stage is
    * deterministic integer math, so DuckDB replays the whole chain
    * and the summary must match hash-exact (a regression in ANY stage
    * shifts the final counts). Dedup keeps min(doc_id); the kept
    * doc's lang/n_tokens equal min() over the group because exact
    * copies share text verbatim. */
  private val curationE2e = QueryDef(
    "llm_curation_e2e",
    (s, d) => {
      val scored = withExactDups(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .withColumn("n_unique",
          expr("CAST(size(array_distinct(toks)) AS BIGINT)"))
      val passed = scored.filter(
        col("n_tokens") >= 20 && col("n_unique") * 2 >= col("n_tokens"))
      val deduped = passed
        .groupBy(md5(lower(trim(col("text")))).as("h"))
        .agg(
          min("doc_id").as("doc_id"),
          min("lang").as("lang"),
          min("n_tokens").as("n_tokens"),
          count(lit(1)).as("n_copies"))
      val assigned = deduped
        .withColumn("bucket", expr(
          "CAST(conv(substr(md5(concat('split:', CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 100"))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test"))
      assigned.groupBy("split", "lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").cast("long").as("sum_tokens"),
          (sum("n_copies") - count(lit(1))).cast("long").as("n_dups_removed"))
        .orderBy("split", "lang")
    },
    Some(s"""WITH $augExactSql,
             scored AS (
               SELECT doc_id, lang, text,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                 CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_unique
               FROM aug),
             passed AS (
               SELECT * FROM scored
               WHERE n_tokens >= 20 AND n_unique * 2 >= n_tokens),
             deduped AS (
               SELECT min(doc_id) AS doc_id, min(lang) AS lang,
                 min(n_tokens) AS n_tokens,
                 CAST(count(*) AS BIGINT) AS n_copies
               FROM passed GROUP BY md5(lower(trim(text)))),
             assigned AS (
               SELECT *,
                 CASE WHEN bucket < 80 THEN 'train'
                      WHEN bucket < 90 THEN 'val'
                      ELSE 'test' END AS split
               FROM (SELECT *,
                       ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
                     FROM deduped))
             SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
               CAST(sum(n_copies) - count(*) AS BIGINT) AS n_dups_removed
             FROM assigned GROUP BY split, lang ORDER BY split, lang"""))

  /** ROUGE-1-style token overlap of every document against its
    * source's canonical (lowest-id) document — the eval-pipeline
    * overlap metric done the linear way: one tiny per-source
    * reference table (broadcast), one pass over the corpus, exact
    * integer counts (|tokens ∩ ref_tokens|, |ref_tokens|) so the
    * recall ratio is derivable without any float leaving the query.
    * No all-pairs join exists anywhere: corpus rows meet exactly one
    * reference row each. */
  private val refOverlap = QueryDef(
    "llm_ref_overlap",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          array_sort(array_distinct(split(col("text"), "\\s+"))).as("toks"))
      val refIds = docs.groupBy("source").agg(min("doc_id").as("ref_id"))
      val refs = docs
        .select(col("doc_id").as("r_doc"), col("source").as("r_source"),
          col("toks").as("ref_toks"))
        .join(refIds, col("r_doc") === refIds("ref_id"))
        .select(col("r_source"), col("ref_id"), col("ref_toks"))
      docs.join(broadcast(refs), col("source") === col("r_source"))
        .filter(col("doc_id") =!= col("ref_id"))
        .select(col("doc_id"), col("ref_id"),
          size(array_intersect(col("toks"), col("ref_toks")))
            .cast("long").as("n_common"),
          size(col("ref_toks")).cast("long").as("n_ref"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
              SELECT doc_id, source,
                list_sort(list_distinct(string_split_regex(text, '\s+'))) AS t
              FROM documents),
            refs AS (
              SELECT source, min(doc_id) AS ref_id
              FROM documents GROUP BY source),
            rt AS (
              SELECT r.source, r.ref_id, t.t AS ref_t
              FROM refs r JOIN toks t ON t.doc_id = r.ref_id)
            SELECT d.doc_id, rt.ref_id,
              CAST(len(list_intersect(d.t, rt.ref_t)) AS BIGINT) AS n_common,
              CAST(len(rt.ref_t) AS BIGINT) AS n_ref
            FROM toks d JOIN rt ON d.source = rt.source
            WHERE d.doc_id <> rt.ref_id
            ORDER BY d.doc_id"""))

  /** BOILERPLATE n-gram flagging — the CCNet/RefinedWeb-style
    * frequency filter a web-scale curation pipeline runs before
    * training: an 8-gram that recurs across documents (headers,
    * footers, navigation, license blurbs) is boilerplate, and a doc
    * dominated by such grams is template noise. Two aggregations over
    * ONE exploded gram stream: per-gram document frequency (distinct
    * doc grams → count), then a per-doc rollup counting how many of
    * its gram occurrences are boilerplate (doc frequency ≥ 2).
    *
    * Scale shape: NO broadcast hint on the gram join on purpose — the
    * boilerplate set is corpus-derived and grows with the corpus, so
    * the honest 100 TB plan shuffles the occurrence stream once on the
    * gram key (AQE is free to pick a broadcast if the set turns out
    * tiny). The ratio is exact integer basis points (floor division,
    * identical both engines). */
  private val boilerplateNgrams = QueryDef(
    "llm_boilerplate_ngrams",
    (s, d) => {
      // Grams are pure join/distinct keys here (never output), so use
      // the codegen'd hashed-shingle form: no per-gram string
      // allocation, and the three gram-keyed exchanges below (distinct,
      // dfreq, occurrence join) carry 8-byte longs instead of ~60-byte
      // strings (guide §2.3). Same 64-bit-collision trade as
      // ngramPairs — the oracle stays string-exact.
      val occ = Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 8)
        .select(col("doc_id"),
          explode(ngramHashes(col("toks"), 8)).as("gram"))
      val boiler = occ.select("doc_id", "gram").distinct()
        .groupBy("gram").agg(count(lit(1)).as("dfreq"))
        .filter(col("dfreq") >= 2)
        .select(col("gram")).withColumn("b", lit(1))
      occ.join(boiler, Seq("gram"), "left_outer")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"), count(col("b")).as("n_boiler"))
        .select(col("doc_id"), col("n_grams"), col("n_boiler"),
          expr("n_boiler * 10000 div n_grams").as("boiler_bp"))
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (
              SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
            occ AS (
              SELECT doc_id, unnest(list_transform(
                generate_series(1, len(toks) - 7),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
                     toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
                     toks[i+6] || ' ' || toks[i+7])) AS gram
              FROM tok WHERE len(toks) >= 8),
            b AS (
              SELECT gram FROM (
                SELECT gram, count(DISTINCT doc_id) AS dfreq
                FROM occ GROUP BY gram)
              WHERE dfreq >= 2)
            SELECT o.doc_id,
              CAST(count(*) AS BIGINT) AS n_grams,
              CAST(count(b.gram) AS BIGINT) AS n_boiler,
              CAST(count(b.gram) * 10000 // count(*) AS BIGINT) AS boiler_bp
            FROM occ o LEFT JOIN b ON o.gram = b.gram
            GROUP BY o.doc_id ORDER BY o.doc_id"""))

  /** SPAN-level decontamination — the TRANSFORM half of
    * `llm_contamination` (which only flags): tokens covered by any
    * eval-overlapping 5-gram are scrubbed, and the op reports exactly
    * how many tokens survive per contaminated doc. Coverage is a
    * position-set union (overlapping hits must not double-count a
    * token), computed distributively: gram occurrences keep their
    * start position, hits explode to covered positions, and a
    * DISTINCT (doc, pos) aggregation counts the union — no per-doc
    * interval logic on the driver, and only hit-derived rows reach
    * the distinct (contamination is sparse, so this is tiny next to
    * the corpus scan). Counts are position-convention-independent, so
    * Spark's 0-based and DuckDB's 1-based gram starts agree exactly. */
  private val decontaminateSpan = QueryDef(
    "llm_decontaminate_span",
    (s, d) => {
      val toks = withNearDups(s, d)
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 5)
      // Hashed grams (the ngramPairs trade); posexplode emits the same
      // 0-based window-start positions as the transform it replaces
      // (ngramHashes returns grams in document order).
      val occ = toks.select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        posexplode(ngramHashes(col("toks"), 5))
          .as(Seq("p", "gram")))
      val holdout = occ.filter(col("doc_id") >= 100000)
        .select("gram").distinct()
      occ.filter(col("doc_id") < 100000)
        .join(broadcast(holdout), Seq("gram"))
        .select(col("doc_id"), col("n_tokens"),
          explode(expr("sequence(p, p + 4)")).as("cpos"))
        .distinct()
        .groupBy("doc_id", "n_tokens")
        .agg(count(lit(1)).as("n_covered"))
        .select(col("doc_id"), col("n_tokens"), col("n_covered"),
          (col("n_tokens") - col("n_covered")).as("n_clean"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $augNearSql,
             tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM aug),
             occ AS (
               SELECT doc_id, len(toks) AS n_tokens, u.i AS p,
                 toks[u.i] || ' ' || toks[u.i+1] || ' ' || toks[u.i+2] || ' ' ||
                 toks[u.i+3] || ' ' || toks[u.i+4] AS gram
               FROM tok, LATERAL (
                 SELECT unnest(generate_series(1, len(toks) - 4)) AS i) u
               WHERE len(toks) >= 5),
             hold AS (SELECT DISTINCT gram FROM occ WHERE doc_id >= 100000),
             cov AS (
               SELECT DISTINCT o.doc_id, o.n_tokens, c.cpos
               FROM occ o JOIN hold h ON o.gram = h.gram, LATERAL (
                 SELECT unnest(generate_series(o.p, o.p + 4)) AS cpos) c
               WHERE o.doc_id < 100000)
             SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_covered,
               CAST(n_tokens - count(*) AS BIGINT) AS n_clean
             FROM cov GROUP BY doc_id, n_tokens
             ORDER BY doc_id"""))

  /** CURATION WRITES DELETION VECTORS (r14): exact dedup executed AS
    * LAKE DML — the corpus lives in a 4-bucket manifest-protocol lake,
    * the dedup pipeline reads THE LAKE, computes the losers (same
    * keeper rule as [[dedupExact]]: min doc id per normalized-text
    * digest), and retires them through `MERGE … WHEN MATCHED THEN
    * DELETE` with `dvMaxFraction = 1.0` — every touched bucket keeps
    * its files and gains an O(losers) deletion vector; NO segment is
    * rewritten (REQUIREd). This is the 100 TB curation story: a dedup
    * pass over a petabyte corpus writes bytes proportional to the
    * duplicates it found, not to the corpus it scanned, and the next
    * OPTIMIZE/REORG pays the debt on maintenance time, not curation
    * time. The oracle recomputes the keeper rule, the survivor
    * rollup, and the DV'd-bucket census from the documents table
    * alone — a resurrected duplicate, a lost keeper, or a silent
    * fallback to copy-on-write all fail the hash. */
  private val dedupDv = QueryDef(
    "llm_dedup_dv",
    (s, d) => {
      import graft.streaming.LakeSink
      import org.apache.spark.sql.expressions.Window
      val dir = graft.Scratch.tmpPath("graft_dedup_dv", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      LakeSink.createTable(dir, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
      // ONE staged write splits the 4 bucket segments (4 filtered
      // re-scans would read the corpus 4×), one manifest commit
      val stage = s"$dir/_stage_dedup"
      withExactDups(s, d).select(col("doc_id"), col("text"))
        .withColumn("__b", pmod(col("doc_id"), lit(4)))
        .write.partitionBy("__b").parquet(stage)
      val segs = new java.io.File(stage).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("__b="))
        .sortBy(_.getName)
        .map { f =>
          val seg = "seg_b%d".format(f.getName.stripPrefix("__b=").toInt)
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(dir, seg))
          seg
        }.toSeq
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stage))
      val m0 = LakeSink.readManifest(dir)
      require(LakeSink.commitManifest(dir,
        LakeSink.Manifest(m0.version + 1, m0.maxB, m0.segs ++ segs, m0.schemaV,
          m0.schemaJson)),
        "dedup lake ingest commit lost a race")
      // The dedup pipeline reads THE LAKE (not the source files) —
      // losers = every row whose digest has a smaller doc id
      val losers = LakeSink.readTable(s, dir)
        .withColumn("h", md5(lower(trim(col("text")))))
        .withColumn("rn", row_number().over(
          Window.partitionBy("h").orderBy("doc_id")))
        .filter(col("rn") > 1).select("doc_id")
      val (_, rw, nUpd, nDel, nIns) = LakeSink.mergeClauses(s, dir,
        losers, Seq("doc_id"),
        matched = Seq(LakeSink.MergeClause.Delete(None)),
        dvMaxFraction = 1.0)
      require(rw == 0 && nUpd == 0L && nIns == 0L,
        s"dedup-as-DML must be pure DVs (rw=$rw upd=$nUpd ins=$nIns)")
      val mf = LakeSink.readManifest(dir)
      LakeSink.readTable(s, dir)
        .agg(
          lit(mf.segs.size.toLong).as("n_segments"),
          lit(mf.dv.size.toLong).as("n_dv_segments"),
          lit(nDel).as("n_deleted"),
          count(lit(1)).as("n_rows"),
          sum("doc_id").as("sum_doc_id"))
    },
    // keeper rule = min doc id per normalized digest (dedupExact's);
    // a DV'd bucket holds ≥1 loser AND ≥1 keeper (rw == 0 REQUIREd,
    // so an all-loser bucket would fail loud, never skew the census)
    Some(s"""WITH $augExactSql,
             r AS (SELECT doc_id,
                     row_number() OVER (
                       PARTITION BY md5(lower(trim(text)))
                       ORDER BY doc_id) AS rn
                   FROM aug)
             SELECT
               CAST(count(DISTINCT doc_id % 4) AS BIGINT) AS n_segments,
               (SELECT CAST(count(*) AS BIGINT) FROM (
                  SELECT doc_id % 4 AS b FROM r GROUP BY 1
                  HAVING count(CASE WHEN rn > 1 THEN 1 END) > 0
                     AND count(CASE WHEN rn = 1 THEN 1 END) > 0))
                 AS n_dv_segments,
               CAST(count(CASE WHEN rn > 1 THEN 1 END) AS BIGINT)
                 AS n_deleted,
               CAST(count(CASE WHEN rn = 1 THEN 1 END) AS BIGINT)
                 AS n_rows,
               CAST(sum(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
                 AS sum_doc_id
             FROM r"""))

  val defs: Seq[QueryDef] = Seq(
    dedupExact, dedupNgram, dupClustersQ, dedupMinhash, dedupSimhash,
    dedupIncremental, fingerprint, tokenCount, textStats, qualityScore,
    langId, langFilter, contamination, contaminationBloom,
    boilerplateNgrams, decontaminateSpan, repetitionFilter, curationE2e,
    refOverlap, dedupDv)
}
