package graft
package catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.roundStable
import graft.dedup.NGramJaccard
import ProcessState.{setupOnce, sinkCounter, freshLocalStateDir}

/** Near-duplicate detection (`graft.dedup`), streaming folds
  * (`graft.streaming`) and binary media inspection (`graft.multimodal`).
  */
private[graft] object DedupStreamQueries {

  val queries: Seq[Query] = Seq(
    Query("q27_time_bucket", (s, dir) =>
      // Tumbling 6-hour windows — the batch twin of the streaming path
      // (same window() call drives streaming.EventStream).
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "6 hours").getField("start").as("bucket"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), roundStable(sum(col("value")), 4).as("sum_value"))
        .orderBy(col("bucket"), col("event_type")),
      """SELECT make_timestamp((epoch_us(ts) // 21600000000) * 21600000000) AS bucket,
        | event_type, count(*) AS n, roundStable(sum(value), 4) AS sum_value
        |FROM events GROUP BY bucket, event_type ORDER BY bucket, event_type""".stripMargin),

    Query("q40_multimodal_meta", (s, dir) =>
      multimodal.Binary.withBlobMeta(
        Tables.documents(s, dir).withColumn("blob", col("text").cast("binary")), "blob")
        .select(col("doc_id"), col("n_bytes"), col("content_md5"), col("head"))
        .orderBy(col("doc_id")),
      """SELECT doc_id,
        | CAST(strlen(text) AS BIGINT) AS n_bytes,
        | md5(text) AS content_md5,
        | substr(text, 1, 8) AS head
        |FROM documents ORDER BY doc_id""".stripMargin),

    Query("q35_minhash_lsh", (s, dir) =>
      // Oracle = the exact-Jaccard SQL at the same threshold: banding at
      // b=32/r=4 has ~1e-15 miss probability for the >=0.9 planted dups,
      // and exact verification removes every false positive.
      dedup.MinHashLsh.similarPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, minJaccard = 0.8)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
          roundStable(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b")),
      """WITH s AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w) - 1)]) AS shingles
        |  FROM s
        |),
        |ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS sh FROM sh)
        |SELECT doc_a, doc_b, roundStable(j, 6) AS jaccard FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(count(*) AS DOUBLE) / CAST(max(a.n) + max(b.n) - count(*) AS DOUBLE) AS j
        |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id) t
        |WHERE j >= 0.8 ORDER BY doc_a, doc_b""".stripMargin),

    Query("q36_simhash", (s, dir) => {
      // VERDICT-GATED (r13, the q38 twin-corpus trick): SimHash pair
      // content is xxhash64-based engine content, but on a corpus
      // augmented with exact-duplicate twins (every 5th doc under a
      // shifted id) recall is 1 BY CONSTRUCTION — identical text ⇒
      // identical 64-bit fingerprint ⇒ identical bands ⇒ hamming 0 —
      // so `twins_found_at_zero` is an exact VALUE the oracle
      // recomputes, and the structural contracts (hamming ∈ [0, max],
      // id_a < id_b, pairs distinct) flatten to asserted 1/0s.
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val twins = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val pairs = dedup.SimHash.nearDupPairs(docs.unionByName(twins),
        "doc_id", "text", maxHamming = 6)
      pairs.agg(
        sum(when(col("id_a") % 5 === 0 &&
          col("id_b") === col("id_a") + 1000000L &&
          col("hamming") === 0, 1L).otherwise(0L)).as("twins_found_at_zero"),
        min(col("hamming") >= 0 && col("hamming") <= 6)
          .cast("bigint").as("hamming_bounded_ok"),
        min(col("id_a") < col("id_b")).cast("bigint").as("ordered_ok"),
        (count(lit(1)) === countDistinct(col("id_a"), col("id_b")))
          .cast("bigint").as("distinct_ok"))
    },
      // exact-duplicate twins MUST surface at hamming 0 (identical
      // fingerprints share every band): the twin count is recomputed
      // by value; structural contracts assert as 1s
      """SELECT count(*) AS twins_found_at_zero,
        | CAST(1 AS BIGINT) AS hamming_bounded_ok,
        | CAST(1 AS BIGINT) AS ordered_ok,
        | CAST(1 AS BIGINT) AS distinct_ok
        |FROM documents WHERE doc_id % 5 = 0""".stripMargin),

    Query("q43_dedup_survivors", (s, dir) => {
      // end-to-end near-dup removal: drop the higher-id doc of every
      // >=0.8-Jaccard pair; survivors = docs never appearing as doc_b.
      // Pair generation uses the EXACT NGramJaccard join (PPJoin-style
      // prefix filter: only the first |d|−⌈t·|d|⌉+1 sorted shingles are
      // indexed, tight at t=0.8, with exact verification) — so the query
      // equals its oracle DETERMINISTICALLY, not up to a recall term. The
      // probabilistic MinHash+LSH path stays the measured scale
      // alternative (q35 + DedupScale assert its contract); an
      // oracle-gated query must not carry even a ~5e-8 per-pair flake.
      val pairs = NGramJaccard.similarPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, minJaccard = 0.8)
        .select(col("id_b").as("doc_id"))
      Tables.documents(s, dir)
        .join(pairs, Seq("doc_id"), "left_anti")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },
      """WITH s AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w) - 1)]) AS shingles
        |  FROM s
        |),
        |ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS sh FROM sh),
        |dropped AS (
        |  SELECT DISTINCT doc_b AS doc_id FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      CAST(count(*) AS DOUBLE) / CAST(max(a.n) + max(b.n) - count(*) AS DOUBLE) AS j
        |    FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |    GROUP BY a.doc_id, b.doc_id) t
        |  WHERE j >= 0.8)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
        |ORDER BY doc_id""".stripMargin),

    Query("q34_ngram_jaccard", (s, dir) =>
      NGramJaccard.similarPairs(Tables.documents(s, dir), "doc_id", "text", n = 3, minJaccard = 0.5)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
          roundStable(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b")),
      """WITH s AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w) - 1)]) AS shingles
        |  FROM s
        |),
        |ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS sh FROM sh)
        |SELECT doc_a, doc_b, roundStable(j, 6) AS jaccard FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(count(*) AS DOUBLE) / CAST(max(a.n) + max(b.n) - count(*) AS DOUBLE) AS j
        |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id) t
        |WHERE j >= 0.5 ORDER BY doc_a, doc_b""".stripMargin),

    Query("q66_dedup_clusters", (s, dir) => {
      // the third dedup stage: pair EDGES (exact >=0.8 Jaccard) →
      // transitive CLUSTERS via min-label connected components — a↔b,
      // b↔c collapse to one canonical doc even though (a,c) was never a
      // pair. Canonical = min doc_id per component; singleton docs are
      // their own cluster. The oracle computes the same closure with a
      // recursive CTE.
      val docs = Tables.documents(s, dir)
      val pairs = NGramJaccard.similarPairs(docs, "doc_id", "text", n = 3, minJaccard = 0.8)
      val comps = operators.ConnectedComponents.minLabel(pairs, "id_a", "id_b")
      docs.select(col("doc_id"))
        .join(comps.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("cluster_id"))
        .withColumn("is_canonical", (col("doc_id") === col("cluster_id")).cast("long"))
        .orderBy(col("doc_id"))
    },
      """WITH RECURSIVE s AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w) - 1)]) AS shingles
        |  FROM s),
        |ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS sh FROM sh),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      CAST(count(*) AS DOUBLE) / CAST(max(a.n) + max(b.n) - count(*) AS DOUBLE) AS j
        |    FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |    GROUP BY a.doc_id, b.doc_id) t
        |  WHERE j >= 0.8),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT a AS node, a AS comp FROM (SELECT DISTINCT a FROM edges) t
        |  UNION
        |  SELECT e.a AS node, r.comp FROM edges e JOIN reach r ON e.b = r.node),
        |comp AS (SELECT node, min(comp) AS cluster_id FROM reach GROUP BY node)
        |SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
        |  CAST(CASE WHEN coalesce(c.cluster_id, d.doc_id) = d.doc_id THEN 1 ELSE 0 END AS BIGINT) AS is_canonical
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
        |ORDER BY d.doc_id""".stripMargin),

    Query("q69_cluster_star", (s, dir) => {
      // q66's contract through the OTHER components algorithm: the
      // alternating large-star/small-star contraction (diameter-
      // independent, O(log²n) rounds) must reproduce the recursive-CTE
      // transitive closure exactly — proving the adversarial-topology
      // fallback against the same oracle as the propagation path
      val docs = Tables.documents(s, dir)
      val pairs = NGramJaccard.similarPairs(docs, "doc_id", "text", n = 3, minJaccard = 0.8)
      val comps = operators.ConnectedComponents.starComponents(pairs, "id_a", "id_b")
      docs.select(col("doc_id"))
        .join(comps.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("cluster_id"))
        .withColumn("is_canonical", (col("doc_id") === col("cluster_id")).cast("long"))
        .orderBy(col("doc_id"))
    },
      // identical closure oracle to q66 — the star transform must land on
      // the same clusters as min-label propagation
      """WITH RECURSIVE s AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w) - 1)]) AS shingles
        |  FROM s),
        |ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS sh FROM sh),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      CAST(count(*) AS DOUBLE) / CAST(max(a.n) + max(b.n) - count(*) AS DOUBLE) AS j
        |    FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |    GROUP BY a.doc_id, b.doc_id) t
        |  WHERE j >= 0.8),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT a AS node, a AS comp FROM (SELECT DISTINCT a FROM edges) t
        |  UNION
        |  SELECT e.a AS node, r.comp FROM edges e JOIN reach r ON e.b = r.node),
        |comp AS (SELECT node, min(comp) AS cluster_id FROM reach GROUP BY node)
        |SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
        |  CAST(CASE WHEN coalesce(c.cluster_id, d.doc_id) = d.doc_id THEN 1 ELSE 0 END AS BIGINT) AS is_canonical
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
        |ORDER BY d.doc_id""".stripMargin),

    Query("q70_incremental_dedup", (s, dir) => {
      // the production ingest shape, driver-gated: rebuild a small LSH
      // index over the corpus (rebuild semantics keep Bench's cold+warm
      // double run idempotent), then dedup a planted delta — twins of
      // every 7th doc under fresh ids — against it WITHOUT recomputing
      // any corpus-vs-corpus pair. Oracle = the exact-Jaccard closure
      // over corpus ∪ delta RESTRICTED to pairs touching the delta: the
      // O(delta) join must say exactly what a full recompute would have
      // said about the new docs (banding at b=32/r=4 has ~1e-15 miss
      // probability at j≥0.8, and exact verification kills every false
      // positive — same argument as q35). Index build hoisted to the
      // once-per-process setup: deltaPairs never mutates the index, so
      // every invocation sees the identical corpus index and the timed
      // body is the O(delta) fold alone.
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      setupOnce(s"q70idx|$dir") {
        dedup.IncrementalDedup.writeIndex(docs, "doc_id", "text", "q70idx", buckets = 4)
      }
      val delta = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      dedup.IncrementalDedup.deltaPairs(s, delta, "doc_id", "text", "q70idx", minJaccard = 0.8)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
          roundStable(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
      // full exact-Jaccard recompute over corpus ∪ delta, restricted to
      // pairs with a delta endpoint — what the O(delta) incremental join
      // must reproduce exactly
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0),
        |s AS (SELECT doc_id, str_split(text, ' ') AS w FROM docs),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w) - 1)]) AS shingles
        |  FROM s),
        |ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS sh FROM sh)
        |SELECT doc_a, doc_b, roundStable(j, 6) AS jaccard FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(count(*) AS DOUBLE) / CAST(max(a.n) + max(b.n) - count(*) AS DOUBLE) AS j
        |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id) t
        |WHERE j >= 0.8 AND (doc_a >= 1000000 OR doc_b >= 1000000)
        |ORDER BY doc_a, doc_b""".stripMargin),

    Query("q72_stream_dedup_fold", (s, dir) => {
      // the streaming ingest fold, driver-gated: same planted delta as
      // q70, but pushed through DedupStream.dedupBatch TWICE with the
      // same batch id — the at-least-once replay case. The second fold
      // runs with the delta already in the index (appendToIndex's gate
      // makes the re-append a no-op; deltaPairs' self-pair guard plus
      // candidate distinct() keep the emitted pairs identical), so the
      // batch directory this query returns must STILL equal the exact
      // closure restricted to delta-touching pairs — idempotence joins
      // the oracle gate instead of riding on specs alone. Corpus index
      // build hoisted to the once-per-process setup; warm invocations
      // run with the delta already appended, i.e. every fold after the
      // first is the replay case this query exists to gate.
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      setupOnce(s"q72idx|$dir") {
        dedup.IncrementalDedup.writeIndex(docs, "doc_id", "text", "q72idx", buckets = 4)
      }
      val delta = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val pairsPath = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q72_pairs").getAbsolutePath
      streaming.DedupStream.dedupBatch(delta, 0L, "doc_id", "text", "q72idx",
        pairsPath, minJaccard = 0.8)
      streaming.DedupStream.dedupBatch(delta, 0L, "doc_id", "text", "q72idx",
        pairsPath, minJaccard = 0.8)
      s.read.parquet(s"$pairsPath/batch=0")
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
          roundStable(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
      // identical closure to q70: the streaming fold (run twice — the
      // replay case) must land exactly the delta-restricted pair set in
      // its batch directory
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0),
        |s AS (SELECT doc_id, str_split(text, ' ') AS w FROM docs),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w) - 1)]) AS shingles
        |  FROM s),
        |ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS sh FROM sh)
        |SELECT doc_a, doc_b, roundStable(j, 6) AS jaccard FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(count(*) AS DOUBLE) / CAST(max(a.n) + max(b.n) - count(*) AS DOUBLE) AS j
        |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id) t
        |WHERE j >= 0.8 AND (doc_a >= 1000000 OR doc_b >= 1000000)
        |ORDER BY doc_a, doc_b""".stripMargin),

    Query("q59_blob_features", (s, dir) => {
      // multimodal featurize path under the driver (not just specs):
      // binary blobs → batched mapPartitions decode/featurize (decode
      // stubbed as deterministic byte statistics — no codecs in env).
      // VERDICT-GATED (r13): the stub's byte COUNT flows from the
      // batched UDF output and compares BY VALUE per row (it must
      // equal the blob's UTF-8 octet length — DuckDB recomputes it);
      // the decode-specific mean-byte statistic stays engine content,
      // flattened to a range verdict. The batched plumbing (batch
      // shape, schema, partition independence) remains spec'd.
      import s.implicits._
      val blobs = Tables.documents(s, dir)
        .select(col("doc_id").as("id"), col("text").cast("binary").as("bytes"))
        .as[multimodal.Binary.Blob]
      multimodal.Binary.featurize(blobs, batchSize = 64).toDF()
        .select(col("id").as("doc_id"), col("nBytes").as("n_bytes"),
          (col("meanByte") >= 0.0 && col("meanByte") <= 255.0)
            .cast("bigint").as("mean_byte_bounded_ok"))
        .orderBy(col("doc_id"))
    },
      // the stub decode's byte count recomputed by value (UTF-8 octet
      // length); the engine-specific mean-byte flattens to a 1
      """SELECT doc_id,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | CAST(1 AS BIGINT) AS mean_byte_bounded_ok
        |FROM documents ORDER BY doc_id""".stripMargin),

    Query("q135_containment", (s, dir) =>
      // asymmetric near-dup: |A∩B| / min(|A|,|B|) ≥ 0.8 catches a doc
      // quoted inside a longer one where Jaccard stays tiny — candidate
      // pairs from the shared-shingle index, exact merge-scan verify
      dedup.NGramJaccard.containmentPairs(
          Tables.documents(s, dir).select("doc_id", "text"),
          "doc_id", "text", n = 3, minContainment = 0.8)
        .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
          graft.functions.roundStable(col("containment"), 6).as("containment"))
        .orderBy(col("id_a"), col("id_b")),
      // same 3-gram shingle sets as q34; score = overlap / min size.
      // The engine caps CANDIDATE GENERATION at maxDocFreq=1000 shared
      // shingles (verification uses full sets) — mirrored here so both
      // sides share candidate semantics: a pair qualifies only via a
      // sub-cap shared shingle. No-op at this SF (500 docs < cap), load-
      // bearing on a boilerplate-heavy corpus.
      """WITH s AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w) - 1)]) AS shingles
        |  FROM s
        |),
        |ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS sh FROM sh),
        |capped AS (SELECT sh FROM ex GROUP BY sh
        |           HAVING count(DISTINCT doc_id) <= 1000),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |         WHERE a.sh IN (SELECT sh FROM capped)),
        |v AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(max(a.n) AS BIGINT) AS n_a, CAST(max(b.n) AS BIGINT) AS n_b,
        |    CAST(count(*) AS DOUBLE) / CAST(least(max(a.n), max(b.n)) AS DOUBLE) AS ct
        |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT id_a, id_b, n_a, n_b, roundStable(ct, 6) AS containment
        |FROM v JOIN cand USING (id_a, id_b)
        |WHERE ct >= 0.8 ORDER BY id_a, id_b""".stripMargin),

    Query("q288_crosslang_dups", (s, dir) => {
      // near-dup pairs that CROSS language labels — mislabeled or
      // copied-across content the per-lang pipelines would each keep
      val docs = Tables.documents(s, dir)
      val pairs = NGramJaccard.similarPairs(docs, "doc_id", "text",
        n = 3, minJaccard = 0.5)
      val langs = docs.select(col("doc_id"), col("lang"))
      pairs
        .join(langs.select(col("doc_id").as("id_a"),
          col("lang").as("__la")), "id_a")
        .join(langs.select(col("doc_id").as("id_b"),
          col("lang").as("__lb")), "id_b")
        .groupBy(least(col("__la"), col("__lb")).as("lang_a"),
          greatest(col("__la"), col("__lb")).as("lang_b"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("__la") =!= col("__lb"), 1L).otherwise(0L))
            .as("n_cross_label"))
        .orderBy(col("lang_a"), col("lang_b"))
    },
      // the q34 exact-pair CTE + language labels on both sides
      """WITH s AS (SELECT doc_id, str_split(text, ' ') AS w
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |      FOR i IN range(1, len(w) - 1)]) AS shingles
        |  FROM s),
        |ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS sh
        |  FROM sh),
        |pr AS (SELECT doc_a, doc_b FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      CAST(count(*) AS DOUBLE)
        |        / CAST(max(a.n) + max(b.n) - count(*) AS DOUBLE) AS j
        |    FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2) t WHERE j >= 0.5)
        |SELECT least(da.lang, db.lang) AS lang_a,
        |  greatest(da.lang, db.lang) AS lang_b,
        |  count(*) AS n_pairs,
        |  CAST(sum(CASE WHEN da.lang <> db.lang THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_cross_label
        |FROM pr JOIN documents da ON da.doc_id = pr.doc_a
        |  JOIN documents db ON db.doc_id = pr.doc_b
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    Query("q365_cdc_dedup", (s, dir) => {
      // content-defined chunk dedup over the binary column (gear CDC,
      // FastCDC family). VERDICT-GATED (r13, the twin trick on BYTES):
      // chunk boundaries stay engine-imperative (mapPartitions-class,
      // the C12 islands), but identical blobs chunk IDENTICALLY — a
      // planted twin of every 5th doc makes both members fully
      // duplicated BY CONSTRUCTION, so the full-dup member count
      // compares BY VALUE (exactly 2× the twin count) next to the
      // exact corpus byte total (chunks cover every byte); share and
      // chunk-count bounds assert as 1/0s. Insertion-resync and
      // determinism remain spec'd.
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .filter(col("text").isNotNull && length(col("text")) >= 1)
        .select(col("doc_id").as("id"), col("text"))
      val twins = docs.filter(col("id") % 5 === 0)
        .select((col("id") + 1000000L).as("id"), col("text"))
      val blobs = docs.unionByName(twins)
        .select(col("id"), col("text").cast("binary").as("bytes"))
        .as[multimodal.Binary.Blob]
      val isTwinMember = (col("id") % 5 === 0 && col("id") < 1000000L) ||
        col("id") >= 1000000L
      multimodal.Binary.cdcDupReport(blobs).agg(
        count(lit(1)).as("n_blobs"),
        sum(col("n_bytes")).cast("bigint").as("bytes_total"),
        sum(when(isTwinMember && col("dup_byte_share") === 1.0 &&
          col("n_dup_chunks") === col("n_chunks"), 1L).otherwise(0L))
          .as("n_twin_members_full_dup"),
        min(col("dup_byte_share") >= 0.0 && col("dup_byte_share") <= 1.0 &&
          col("n_dup_chunks") <= col("n_chunks") &&
          col("dup_bytes") <= col("n_bytes")).cast("bigint").as("bounds_ok"))
    },
      // exact blob count and byte total (chunks cover every byte);
      // the planted twins' full-dup member count is exactly 2x the
      // twin count; bounds assert as 1
      """WITH d AS (SELECT doc_id, text FROM documents
        |           WHERE text IS NOT NULL AND len(text) >= 1)
        |SELECT
        |  CAST((SELECT count(*) FROM d)
        |    + (SELECT count(*) FROM d WHERE doc_id % 5 = 0) AS BIGINT)
        |    AS n_blobs,
        |  CAST((SELECT sum(octet_length(encode(text))) FROM d)
        |    + (SELECT sum(octet_length(encode(text))) FROM d
        |       WHERE doc_id % 5 = 0) AS BIGINT) AS bytes_total,
        |  CAST(2 * (SELECT count(*) FROM d WHERE doc_id % 5 = 0)
        |    AS BIGINT) AS n_twin_members_full_dup,
        |  CAST(1 AS BIGINT) AS bounds_ok""".stripMargin),

    Query("q282_cluster_purity", (s, dir) => {
      // score q66's dedup clustering against exact-dup truth classes:
      // B-cubed P/R/F1 from contingency cells — no per-element join
      val docs = Tables.documents(s, dir)
      val pairs = NGramJaccard.similarPairs(docs, "doc_id", "text",
        n = 3, minJaccard = 0.8)
      val comps = operators.ConnectedComponents.minLabel(pairs, "id_a", "id_b")
      val el = docs.select(col("doc_id"), md5(col("text")).as("truth"))
        .join(comps.withColumnRenamed("node", "doc_id"),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("comp"), col("doc_id")).as("cluster"),
          col("truth"))
      dedup.BlockingEval.bcubed(el, "doc_id", "cluster", "truth")
    },
      // q66's recursive closure + md5 truth classes, B-cubed as cell
      // arithmetic
      """WITH RECURSIVE s AS (SELECT doc_id, str_split(text, ' ') AS w
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |      FOR i IN range(1, len(w) - 1)]) AS shingles
        |  FROM s),
        |ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS sh
        |  FROM sh),
        |pairs AS (SELECT doc_a, doc_b FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      CAST(count(*) AS DOUBLE)
        |        / CAST(max(a.n) + max(b.n) - count(*) AS DOUBLE) AS j
        |    FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |    GROUP BY a.doc_id, b.doc_id) t
        |  WHERE j >= 0.8),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT a AS node, a AS comp
        |    FROM (SELECT DISTINCT a FROM edges) t
        |  UNION
        |  SELECT e.a AS node, r.comp FROM edges e
        |    JOIN reach r ON e.b = r.node),
        |comp AS (SELECT node, min(comp) AS cluster_id FROM reach
        |  GROUP BY node),
        |el AS (SELECT d.doc_id,
        |    coalesce(c.cluster_id, d.doc_id) AS cl, md5(d.text) AS tr
        |  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
        |cells AS (SELECT cl, tr, count(*) AS nct FROM el GROUP BY 1, 2),
        |st AS (SELECT nct,
        |    CAST(sum(nct) OVER (PARTITION BY cl) AS DOUBLE) AS nc,
        |    CAST(sum(nct) OVER (PARTITION BY tr) AS DOUBLE) AS nt,
        |    cl, tr
        |  FROM cells),
        |g AS (SELECT CAST(sum(nct) AS DOUBLE) AS nn,
        |    count(DISTINCT cl) AS ncl, count(DISTINCT tr) AS ntr,
        |    sum(CAST(nct AS DOUBLE) * CAST(nct AS DOUBLE) / nc) AS sp,
        |    sum(CAST(nct AS DOUBLE) * CAST(nct AS DOUBLE) / nt) AS sr
        |  FROM st)
        |SELECT CAST(nn AS BIGINT) AS n_elements,
        |  CAST(ncl AS BIGINT) AS n_clusters,
        |  CAST(ntr AS BIGINT) AS n_truth_classes,
        |  roundStable(sp / nn, 6) AS bcubed_precision,
        |  roundStable(sr / nn, 6) AS bcubed_recall,
        |  roundStable(CASE WHEN roundStable(sp / nn, 6)
        |      + roundStable(sr / nn, 6) > 0
        |    THEN 2.0 * roundStable(sp / nn, 6) * roundStable(sr / nn, 6)
        |      / (roundStable(sp / nn, 6) + roundStable(sr / nn, 6))
        |    END, 6) AS f1
        |FROM g""".stripMargin),

    Query("q269_blocking_eval", (s, dir) =>
      // audit the candidate-generation stage itself: prefix blocking
      // vs exact-Jaccard ground truth — RR/PC/PQ without enumerating
      // a single candidate pair
      dedup.BlockingEval.prefixBlockingReport(Tables.documents(s, dir),
        "doc_id", "text", prefixLen = 40, n = 3, minJaccard = 0.5),
      // block sizes give |candidates| without enumerating any pair;
      // the q34 exact-Jaccard CTE is the ground truth
      """WITH k AS (SELECT doc_id AS id,
        |    substr(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |      1, 40) AS kk
        |  FROM documents),
        |bl AS (SELECT kk, count(*) AS nb FROM k GROUP BY 1),
        |bs AS (SELECT count(*) AS n_blocks, max(nb) AS max_block,
        |    sum(CAST(CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0)
        |      / 2.0 AS BIGINT)) AS cand_pairs,
        |    sum(nb) AS n_docs
        |  FROM bl),
        |s AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |      FOR i IN range(1, len(w) - 1)]) AS shingles
        |  FROM s),
        |ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS sh
        |  FROM sh),
        |tp AS (SELECT doc_a, doc_b FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      CAST(count(*) AS DOUBLE)
        |        / CAST(max(a.n) + max(b.n) - count(*) AS DOUBLE) AS j
        |    FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2) t WHERE j >= 0.5),
        |cv AS (SELECT count(*) AS true_pairs,
        |    sum(CASE WHEN ka.kk = kb.kk THEN 1 ELSE 0 END)
        |      AS covered_pairs
        |  FROM tp JOIN k ka ON ka.id = tp.doc_a
        |    JOIN k kb ON kb.id = tp.doc_b)
        |SELECT CAST(bs.n_docs AS BIGINT) AS n_docs, bs.n_blocks,
        |  bs.max_block, CAST(bs.cand_pairs AS BIGINT) AS cand_pairs,
        |  cv.true_pairs,
        |  CAST(cv.covered_pairs AS BIGINT) AS covered_pairs,
        |  roundStable(CASE WHEN CAST(bs.n_docs AS DOUBLE)
        |      * (CAST(bs.n_docs AS DOUBLE) - 1.0) / 2.0 > 0
        |    THEN 1.0 - CAST(bs.cand_pairs AS DOUBLE)
        |      / (CAST(bs.n_docs AS DOUBLE)
        |        * (CAST(bs.n_docs AS DOUBLE) - 1.0) / 2.0) END, 6)
        |    AS reduction_ratio,
        |  roundStable(CASE WHEN cv.true_pairs > 0
        |    THEN CAST(cv.covered_pairs AS DOUBLE)
        |      / CAST(cv.true_pairs AS DOUBLE) END, 6)
        |    AS pair_completeness,
        |  roundStable(CASE WHEN bs.cand_pairs > 0
        |    THEN CAST(cv.covered_pairs AS DOUBLE)
        |      / CAST(bs.cand_pairs AS DOUBLE) END, 6) AS pair_quality
        |FROM bs, cv""".stripMargin),

    Query("q86_incremental_cc", (s, dir) => {
      // incremental clustering, full lifecycle in-query: the exact-
      // Jaccard pair graph is split by edge hash into base/d1/d2; labels
      // built from base, d1 merged, d1 REPLAYED (append-only min-fold →
      // no-op by monotonicity, no gate), the log compacted, d2 merged.
      // The folded labels must equal q66's one-shot closure over ALL
      // pairs — O(affected) maintenance ≡ full recompute, via the SAME
      // recursive-CTE oracle as q66. Pair-graph computation + base label
      // build hoisted to the once-per-process setup (pairs persisted as
      // a table the merge stages read); warm invocations replay merges
      // against a converged log — monotone min-fold appends zero rows
      // and must reproduce the same labels.
      val docs = Tables.documents(s, dir)
      setupOnce(s"q86cc|$dir") {
        dedup.IncrementalDedup.dropForRebuild(s, "q86_pairs")
        NGramJaccard.similarPairs(docs, "doc_id", "text", n = 3, minJaccard = 0.8)
          .write.mode("overwrite").format("parquet").saveAsTable("q86_pairs")
        operators.IncrementalCC.writeLabels(
          s.table("q86_pairs").filter(pmod(col("id_a") + col("id_b"), lit(3)) === 0),
          "id_a", "id_b", "q86cc", buckets = 4)
      }
      val pairs = s.table("q86_pairs")
      def part(k: Int) = pairs.filter(pmod(col("id_a") + col("id_b"), lit(3)) === k)
      operators.IncrementalCC.mergeEdges(s, part(1), "id_a", "id_b", "q86cc")
      operators.IncrementalCC.mergeEdges(s, part(1), "id_a", "id_b", "q86cc")
      operators.IncrementalCC.compactLabels(s, "q86cc")
      operators.IncrementalCC.mergeEdges(s, part(2), "id_a", "id_b", "q86cc")
      docs.select(col("doc_id"))
        .join(operators.IncrementalCC.readLabels(s, "q86cc")
          .withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("cluster_id"))
        .withColumn("is_canonical", (col("doc_id") === col("cluster_id")).cast("long"))
        .orderBy(col("doc_id"))
    },
      """WITH RECURSIVE s AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w) - 1)]) AS shingles
        |  FROM s),
        |ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS sh FROM sh),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      CAST(count(*) AS DOUBLE) / CAST(max(a.n) + max(b.n) - count(*) AS DOUBLE) AS j
        |    FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |    GROUP BY a.doc_id, b.doc_id) t
        |  WHERE j >= 0.8),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT a AS node, a AS comp FROM (SELECT DISTINCT a FROM edges) t
        |  UNION
        |  SELECT e.a AS node, r.comp FROM edges e JOIN reach r ON e.b = r.node),
        |comp AS (SELECT node, min(comp) AS cluster_id FROM reach GROUP BY node)
        |SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
        |  CAST(CASE WHEN coalesce(c.cluster_id, d.doc_id) = d.doc_id THEN 1 ELSE 0 END AS BIGINT) AS is_canonical
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
        |ORDER BY d.doc_id""".stripMargin),

    Query("q381_stream_agg", (s, dir) => {
      // D8's STREAMING fold driver-gated (the q72 pattern): the exact
      // foreachBatch body (AggStream.aggBatch) runs in-query over three
      // micro-batches with compactEvery=2 firing mid-stream AND a
      // replayed batch 1 (at-least-once) — the folded read must equal
      // the one-shot aggregate over all facts, and the replay gate
      // flattens to a 1/0 the oracle asserts. q79 gates the state
      // machinery directly; this row gates the STREAM surface's batch
      // closure, cadence included.
      val ev = Tables.events(s, dir).select(col("event_id"),
        col("event_type"), col("value"))
      etl.IncrementalAgg.writeState(ev.limit(0).select("event_type", "value"),
        Seq("event_type"), "value", "q381ag", buckets = 2)
      def batch(b: Long) =
        ev.filter(col("event_id") % 3 === b).select("event_type", "value")
      for (b <- 0L to 2L)
        streaming.AggStream.aggBatch(batch(b), b, Seq("event_type"),
          "value", "q381ag", compactEvery = 2)
      // the replay fires aggBatch's COMPACTION too ((1+1) % 2 == 0),
      // which legitimately rewrites the partial log — so the gate is
      // judged on the FOLDED count staying put (an ungated replay would
      // double batch 1's cnt), not on raw state-table row counts
      val cntBefore = etl.IncrementalAgg.read(s, "q381ag")
        .agg(sum(col("cnt"))).head().getLong(0)
      streaming.AggStream.aggBatch(batch(1L), 1L, Seq("event_type"),
        "value", "q381ag", compactEvery = 2)
      val gated = etl.IncrementalAgg.read(s, "q381ag")
        .agg(sum(col("cnt"))).head().getLong(0) == cntBefore
      etl.IncrementalAgg.read(s, "q381ag")
        .select(col("event_type"), col("cnt"),
          roundStable(col("s"), 4).as("sum_value"),
          // avg from the ROUNDED sum (the q79 lesson): raw partial-sum
          // fold vs one-pass sum differ in the last ulp
          roundStable(roundStable(col("s"), 4) / col("cnt"), 4).as("avg_value"),
          roundStable(col("mn"), 6).as("min_value"),
          roundStable(col("mx"), 6).as("max_value"),
          lit(if (gated) 1L else 0L).as("replay_gated"))
        .orderBy(col("event_type"))
    },
      // one-shot aggregate over all facts ≡ the streamed 3-batch fold
      // (incl. mid-stream compaction); the replay gate asserts as 1
      """SELECT event_type, count(value) AS cnt,
        | roundStable(sum(value), 4) AS sum_value,
        | roundStable(roundStable(sum(value), 4) / count(value), 4) AS avg_value,
        | roundStable(min(value), 6) AS min_value,
        | roundStable(max(value), 6) AS max_value,
        | CAST(1 AS BIGINT) AS replay_gated
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    Query("q382_stream_drift", (s, dir) => {
      // D13 driver-gated: the reference window freezes ONCE (bins from
      // the ref range), then two current-side micro-batches score
      // through the exact foreachBatch body (DriftStream.driftBatch)
      // into their own batch=<id> dirs, with batch 0 REPLAYED — the
      // overwrite must be byte-identical, and every landed PSI row must
      // equal the oracle's one-shot recompute of that batch's PSI
      // against the same frozen reference (q125's arithmetic, per
      // batch). No verdict columns needed: the values themselves are
      // oracle-computable.
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"),
          (dayofmonth(col("ts")) <= 15).as("__ref"))
      val ref = streaming.DriftStream.buildReference(
        ev.filter(col("__ref")), Seq("event_type"), "value", bins = 10)
      val monitorDir = freshLocalStateDir(
        s"graft_q382_${Integer.toHexString(dir.hashCode)}")
      val cur = ev.filter(!col("__ref"))
      for (b <- 0L to 1L)
        streaming.DriftStream.driftBatch(ref,
          cur.filter(col("event_id") % 2 === b), b, "value", monitorDir)
      // at-least-once replay of batch 0: deterministic bytes overwrite
      streaming.DriftStream.driftBatch(ref,
        cur.filter(col("event_id") % 2 === 0), 0L, "value", monitorDir)
      s.read.parquet(monitorDir)
        .select(col("event_type"), col("batch_id"), col("psi"),
          col("n_ref"), col("n_cur"))
        .orderBy(col("event_type"), col("batch_id"))
    },
      // per-batch PSI against the frozen first-half reference — q125's
      // arithmetic with the current side split by event_id % 2; the
      // replayed batch 0 must land these exact bytes
      """WITH t AS (SELECT event_type, value, event_id % 2 AS b,
        |             (day(ts) <= 15) AS ref FROM events),
        |r AS (SELECT event_type, min(value) AS lo, max(value) AS hi
        |      FROM t WHERE ref GROUP BY event_type),
        |bb AS (SELECT t.event_type,
        |        CAST(least(greatest(CASE WHEN hi - lo <= 0 THEN 0
        |          ELSE floor((value - lo) / (hi - lo) * 10) END, 0), 9)
        |          AS BIGINT) AS bin,
        |        ref, b
        |      FROM t JOIN r ON t.event_type = r.event_type),
        |refc AS (SELECT event_type, bin, count(*) AS rc FROM bb
        |         WHERE ref GROUP BY 1, 2),
        |refx AS (SELECT event_type, bin, rc, bid FROM refc
        |         CROSS JOIN (SELECT unnest([0, 1]) AS bid)),
        |curc AS (SELECT event_type, b AS bid, bin, count(*) AS cc
        |         FROM bb WHERE NOT ref GROUP BY 1, 2, 3),
        |j AS (SELECT coalesce(refx.event_type, curc.event_type) AS event_type,
        |        coalesce(refx.bid, curc.bid) AS bid,
        |        coalesce(rc, 0) AS rc, coalesce(cc, 0) AS cc
        |      FROM refx FULL OUTER JOIN curc
        |        ON refx.event_type = curc.event_type
        |       AND refx.bin = curc.bin AND refx.bid = curc.bid),
        |w AS (SELECT event_type, bid, rc, cc,
        |        sum(rc) OVER (PARTITION BY event_type, bid) AS nr,
        |        sum(cc) OVER (PARTITION BY event_type, bid) AS nc
        |      FROM j)
        |SELECT event_type, CAST(bid AS BIGINT) AS batch_id,
        |  roundStable(sum(((rc + 0.5) / (nr + 5.0) - (cc + 0.5) / (nc + 5.0))
        |    * ln(((rc + 0.5) / (nr + 5.0)) / ((cc + 0.5) / (nc + 5.0)))), 6)
        |    AS psi,
        |  CAST(max(nr) AS BIGINT) AS n_ref, CAST(max(nc) AS BIGINT) AS n_cur
        |FROM w GROUP BY event_type, bid
        |ORDER BY event_type, batch_id""".stripMargin),

    Query("q383_stream_census", (s, dir) => {
      // D24 driver-gated: three document micro-batches land their own
      // additive census cells through the exact foreachBatch body
      // (CensusStream.censusBatch), batch 1 REPLAYED (partition
      // ownership → byte-identical overwrite), then the merged
      // duplication-locality readout must equal q328's ONE-SHOT
      // dupProfile over the same corpus — split ≡ one-shot by value,
      // with the oracle recomputing every cell.
      val docs = Tables.documents(s, dir)
      val stateDir = freshLocalStateDir(
        s"graft_q383_${Integer.toHexString(dir.hashCode)}")
      def batch(b: Long) = docs.filter(col("doc_id") % 3 === b)
      for (b <- 0L to 2L)
        streaming.CensusStream.censusBatch(batch(b), b, "source", "text",
          md5(substring(col("text"), 1, 40)), stateDir)
      streaming.CensusStream.censusBatch(batch(1L), 1L, "source", "text",
        md5(substring(col("text"), 1, 40)), stateDir)
      streaming.CensusStream.dupProfile(s, stateDir)
        .orderBy(col("source"))
    },
      // q328's one-shot dup-locality profile — the streamed 3-batch
      // census (batch 1 replayed) must merge to these exact cells
      """WITH c AS (SELECT source AS s, md5(substr(text, 1, 40)) AS h,
        |    count(*) AS c FROM documents GROUP BY 1, 2),
        |g AS (SELECT h, sum(c) AS tot, count(*) AS nsrc FROM c
        |  GROUP BY 1)
        |SELECT s AS source, CAST(sum(c.c) AS BIGINT) AS n_docs,
        |  count(*) AS n_distinct,
        |  CAST(sum(CASE WHEN g.tot > 1 AND g.nsrc = 1 THEN c.c ELSE 0
        |    END) AS BIGINT) AS n_intra_dup,
        |  CAST(sum(CASE WHEN g.nsrc > 1 THEN c.c ELSE 0 END) AS BIGINT)
        |    AS n_cross_dup,
        |  roundStable(CAST(sum(CASE WHEN g.tot > 1 AND g.nsrc = 1
        |      THEN c.c ELSE 0 END) AS DOUBLE) / sum(c.c), 6)
        |    AS intra_rate,
        |  roundStable(CAST(sum(CASE WHEN g.nsrc > 1 THEN c.c ELSE 0
        |      END) AS DOUBLE) / sum(c.c), 6) AS cross_rate
        |FROM c JOIN g USING (h) GROUP BY 1 ORDER BY source""".stripMargin),

    Query("q385_media_headers", (s, dir) => {
      // the q40 multimodal surface with a REAL decode stage (r14): one
      // deterministic synthetic blob per document — genuine PNG / JFIF
      // JPEG / GIF89a / BMP header bytes with id-derived dimensions,
      // plus a truncated-magic junk case — probed by the batched
      // mapPartitions header parser (magic detect + per-format
      // dimension layout). The oracle re-derives format, width,
      // height, bit depth, byte size and validity from doc_id
      // arithmetic alone: wrong endianness, an off-by-one offset, or a
      // dropped segment walk all hash-mismatch on VALUES.
      import s.implicits._
      val blobs = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .map(id => multimodal.Binary.Blob(id,
          multimodal.Binary.synthMediaBlob(id)))
      multimodal.Binary.mediaInfo(blobs).toDF()
        .select(col("id").as("doc_id"), col("format"),
          col("width"), col("height"), col("bitDepth").as("bit_depth"),
          col("nBytes").as("n_bytes"), col("valid").cast("int").as("valid"))
        .orderBy(col("doc_id"))
    },
      // header-parse oracle: every field re-derived from doc_id
      // arithmetic + the generator's fixed per-format byte sizes
      // (PNG 33 = magic 8 + len 4 + "IHDR" 4 + data 13 + CRC 4;
      // JPEG 41 = SOI + 18-byte APP0 + 19-byte SOF0 + EOI;
      // GIF 14 = header 6 + LSD 7 + trailer; BMP 54-byte header;
      // junk 6 magic bytes)
      """SELECT doc_id,
        | CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |   WHEN 2 THEN 'gif' WHEN 3 THEN 'bmp' ELSE 'unknown' END
        |   AS format,
        | CAST(CASE doc_id % 5
        |   WHEN 0 THEN 16 + doc_id % 256 WHEN 1 THEN 32 + doc_id % 200
        |   WHEN 2 THEN 1 + doc_id % 300 WHEN 3 THEN 64 + doc_id % 50
        |   END AS INTEGER) AS width,
        | CAST(CASE doc_id % 5
        |   WHEN 0 THEN 8 + doc_id % 128 WHEN 1 THEN 24 + doc_id % 100
        |   WHEN 2 THEN 1 + doc_id % 150 WHEN 3 THEN 48 + doc_id % 25
        |   END AS INTEGER) AS height,
        | CAST(CASE doc_id % 5 WHEN 0 THEN 8 WHEN 1 THEN 8
        |   WHEN 3 THEN 24 END AS INTEGER) AS bit_depth,
        | CAST(CASE doc_id % 5 WHEN 0 THEN 33 WHEN 1 THEN 41
        |   WHEN 2 THEN 14 WHEN 3 THEN 54 ELSE 6 END AS BIGINT)
        |   AS n_bytes,
        | CAST(CASE WHEN doc_id % 5 = 4 THEN 0 ELSE 1 END AS INTEGER)
        |   AS valid
        |FROM documents ORDER BY doc_id""".stripMargin),

    Query("q386_stream_dedup", (s, dir) => {
      // D3 driver-gated: dropDuplicatesWithinWatermark driven as a REAL
      // StreamingQuery (memory source -> the registered operator ->
      // memory sink, three micro-batches processed synchronously) — the
      // watermark state machine itself is the unit under test, so no
      // foreachBatch body can stand in for it. Batch A lands two
      // byte-identical events per key (in-batch dedup -> 1 survivor);
      // batch B advances the watermark 3 h on a reserved key, expiring
      // A's state (1 h horizon); batch C re-arrives every key — state
      // gone, so each key survives AGAIN. Per key the oracle expects
      // EXACTLY 2 survivors (one per epoch) and the advancer 1: a
      // dedup that leaks duplicates inside the horizon or never
      // expires state both hash-mismatch. Duplicates are identical in
      // every column, so survivor identity is deterministic.
      // EVICTION DEPENDENCY (declared): the operator's contract only
      // guarantees dedup WITHIN the watermark horizon — batch C's
      // re-survival relies on the no-data micro-batch after B's
      // watermark advance evicting A's state, so Sessions PINS
      // spark.sql.streaming.noDataMicroBatches.enabled=true (and B's
      // advance is 3 h against a 1 h horizon — 2 h of margin).
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val types = Tables.events(s, dir).select(col("event_type"))
        .distinct().as[String].collect().sorted // bounded: enum column
      val base = 86400000L
      def ev(u: Long, t: String, off: Long) = streaming.EventStream.Event(
        u, new java.sql.Timestamp(base + off), u, t, 1.0)
      val keys = for (u <- 0L until 20L; t <- types) yield (u, t)
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[streaming.EventStream.Event]
      val sink = s"q386_sink_${sinkCounter.incrementAndGet()}"
      val q = streaming.EventStream.dedupWithinWatermark(mem.toDF(),
          Seq("user_id", "event_type"), watermark = "1 hour")
        .writeStream.outputMode("append").format("memory")
        .queryName(sink).start()
      val (schema, rows) = try {
        mem.addData(keys.flatMap { case (u, t) =>
          Seq(ev(u, t, 0L), ev(u, t, 0L)) })
        q.processAllAvailable()
        mem.addData(Seq(ev(999L, types.head, 3L * 3600 * 1000)))
        q.processAllAvailable()
        mem.addData(keys.flatMap { case (u, t) =>
          Seq(ev(u, t, 3L * 3600 * 1000), ev(u, t, 3L * 3600 * 1000)) })
        q.processAllAvailable()
        val out = s.table(sink)
          .groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n_survivors"),
            sum(col("value")).as("sum_value"))
        (out.schema, out.collect().toSeq)
      } finally {
        q.stop()
        s.catalog.dropTempView(sink): Unit
      }
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
        .orderBy(col("user_id"), col("event_type"))
    },
      // watermark-dedup gate: every (user 0-19 x event_type) key
      // survives once per epoch (2 epochs), the watermark-advancer key
      // (999, lexicographically first type) once
      """WITH t AS (SELECT DISTINCT event_type FROM events),
        |k AS (SELECT r.range AS user_id, t.event_type
        |      FROM range(20) r CROSS JOIN t)
        |SELECT CAST(user_id AS BIGINT) AS user_id, event_type,
        |  CAST(2 AS BIGINT) AS n_survivors,
        |  CAST(2.0 AS DOUBLE) AS sum_value
        |FROM k
        |UNION ALL
        |SELECT CAST(999 AS BIGINT), (SELECT min(event_type) FROM t),
        |  CAST(1 AS BIGINT), CAST(1.0 AS DOUBLE)
        |ORDER BY user_id, event_type""".stripMargin),

    Query("q387_stream_ann", (s, dir) => {
      // D10 driver-gated: the EXACT AnnStream.annBatch body (append
      // through the id gate + drift row + compaction cadence) folds two
      // vector micro-batches into the frozen-centroid index, batch 1
      // fires the compactEvery=2 rebuild, then batch 0 REPLAYS
      // (at-least-once): the id gate makes the append a no-op and the
      // replayed drift row is byte-identical, so the drift log folds
      // 3 raw -> 2 distinct rows. Search at full probe must then equal
      // q37's brute-force oracle over ALL vectors (cells partition the
      // corpus) — q87's gate, now riding the streaming closure itself.
      val emb = Tables.embeddings(s, dir)
      val baseV = emb.filter(col("vec_id") % 3 =!= 2)
      val d0 = emb.filter(col("vec_id") % 3 === 2 && col("vec_id") % 2 === 0)
      val d1 = emb.filter(col("vec_id") % 3 === 2 && col("vec_id") % 2 === 1)
      setupOnce(s"q387ann|$dir") {
        sim.IncrementalAnn.writeIndex(baseV, "vec_id", "embedding",
          "q387ann", kCoarse = 8, iters = 3, buckets = 4)
      }
      val driftDir = freshLocalStateDir(
        s"graft_q387_${Integer.toHexString(dir.hashCode)}")
      def fold(b: DataFrame, id: Long): Unit =
        streaming.AnnStream.annBatch(b, id, "vec_id", "embedding",
          "q387ann", compactEvery = 2, driftLog = Some(driftDir))
      fold(d0, 0L); fold(d1, 1L); fold(d0, 0L) // <- the replay
      val drift = s.read.parquet(driftDir)
      val foldsOk = drift.count() == 3L && drift.distinct().count() == 2L
      sim.IncrementalAnn.topK(s, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", "q387ann", k = 5, nprobe = 8)
        .withColumn("replay_folds_ok", lit(if (foldsOk) 1L else 0L))
        .orderBy(col("query_id"), col("rank"))
    },
      // the q87 brute-force truth (cells partition the corpus, full
      // probe is exact) + the drift-log replay fold asserting as 1
      """WITH v AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                   FOR i IN range(1, len(embedding) + 1)])) AS nrm
        |  FROM embeddings),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    roundStable(list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
        |                 FOR i IN range(1, len(q.embedding) + 1)]) / (q.nrm * c.nrm), 4) AS cosine
        |  FROM v q JOIN v c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
        |SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank,
        |  CAST(1 AS BIGINT) AS replay_folds_ok FROM (
        |  SELECT p.*, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM p) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    Query("q388_stream_scd2", (s, dir) => {
      // D12 driver-gated: the EXACT DimStream.scd2Batch body maintains
      // the versioned dimension across two date-split update batches,
      // then batch 0 REPLAYS — the monotone gate (ts strictly past the
      // open valid_from) folds every replayed instant to nothing, and
      // the row-count + row-hash checksum proves the rewritten table is
      // content-identical. The folded dimension must equal the ONE-SHOT
      // SCD2 chain over all updates (q111's fold, baseline-free): split
      // ≡ one-shot by value, every version row oracle-recomputed.
      val dimPath = freshLocalStateDir(
        s"graft_q388_${Integer.toHexString(dir.hashCode)}")
      val ups = Tables.orders(s, dir)
        .groupBy(col("o_custkey").as("cust"), col("o_orderdate").as("ts"))
        .agg(min(col("o_orderpriority")).as("seg"))
      val cut = lit("1995-01-01").cast("date")
      def fold(b: DataFrame): Unit =
        streaming.DimStream.scd2Batch(b, dimPath, Seq("cust"), Seq("seg"), "ts")
      fold(ups.filter(col("ts") <= cut))
      fold(ups.filter(col("ts") > cut))
      def checksum(): (Long, Long) = {
        // XOR fold: order-independent and overflow-free under ANSI
        val r = s.read.parquet(dimPath)
          .agg(count(lit(1)), expr("bit_xor(xxhash64(cust, seg, " +
            "valid_from, valid_to, is_current))")).head()
        (r.getLong(0), r.getLong(1))
      }
      val before = checksum()
      fold(ups.filter(col("ts") <= cut)) // <- at-least-once replay
      val gated = checksum() == before
      s.read.parquet(dimPath)
        .select(col("cust"), col("seg"), col("valid_from"), col("valid_to"),
          col("is_current").cast("long").as("cur"),
          lit(if (gated) 1L else 0L).as("replay_gated"))
        .orderBy(col("cust"), col("valid_from"))
    },
      // baseline-free SCD2 chain over the whole update feed — the
      // one-shot twin of the two-batch + replay fold, with the replay
      // no-change checksum asserting as 1
      """WITH u0 AS (SELECT o_custkey AS cust, o_orderdate AS ts,
        |             min(o_orderpriority) AS seg
        |           FROM orders GROUP BY 1, 2),
        |c1 AS (SELECT cust, ts, seg,
        |         lag(seg) OVER (PARTITION BY cust ORDER BY ts) AS prev
        |       FROM u0),
        |ch AS (SELECT cust, ts, seg FROM c1
        |       WHERE prev IS NULL OR prev <> seg)
        |SELECT cust, seg, CAST(ts AS DATE) AS valid_from,
        |  CAST(lead(ts) OVER (PARTITION BY cust ORDER BY ts) AS DATE)
        |    AS valid_to,
        |  CAST(lead(ts) OVER (PARTITION BY cust ORDER BY ts) IS NULL
        |    AS BIGINT) AS cur,
        |  CAST(1 AS BIGINT) AS replay_gated
        |FROM ch ORDER BY cust, valid_from""".stripMargin),

    Query("q389_bmp_pixels", (s, dir) => {
      // C-family pixel stage made REAL for the zero-codec format (r15):
      // one deterministic 24-bpp BI_RGB BMP per document (pixel grid a
      // fixed linear function of doc_id — Binary.synthPixelBmp), decoded
      // by the batched mapPartitions prober reading the ACTUAL pixel
      // array (stride padding, bottom-up vs top-down row order). The
      // oracle recomputes width/height/per-channel sums AND the
      // row-order-sensitive y-weighted red sum from doc_id arithmetic
      // over two generate_series grids, so a miscounted stride, a
      // bottom-up file read in logical order, or an off-by-one pixel
      // offset all hash-mismatch on VALUES; doc_id%10==9 truncates the
      // pixel array and must come back invalid with NULL stats.
      import s.implicits._
      val blobs = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .map(id => multimodal.Binary.Blob(id,
          multimodal.Binary.synthPixelBmp(id)))
      multimodal.Binary.bmpPixelStats(blobs).toDF()
        .select(col("id").as("doc_id"), col("width"), col("height"),
          col("nPx").as("n_px"), col("sumB").as("sum_b"),
          col("sumG").as("sum_g"), col("sumR").as("sum_r"),
          col("yWeightedRSum").as("ywr_sum"),
          col("cornerTlB").as("corner_tl_b"),
          col("valid").cast("int").as("valid"))
        .orderBy(col("doc_id"))
    },
      // the BMP pixel grid is a fixed linear function of doc_id —
      // recompute every channel sum plus the row-order-sensitive
      // y-weighted red sum over two generate_series grids; doc_id%10==9
      // is the truncated-pixel-array case (invalid, NULL stats)
      """WITH d AS (SELECT doc_id,
        |             CAST(4 + doc_id % 9 AS INT) AS w,
        |             CAST(3 + doc_id % 7 AS INT) AS h
        |           FROM documents),
        |g AS (SELECT d.doc_id, d.w, d.h, xs.x, ys.y,
        |        (d.doc_id + 7*xs.x + 13*ys.y) % 256 AS bch,
        |        (3*d.doc_id + 5*xs.x + 11*ys.y) % 256 AS gch,
        |        (2*d.doc_id + xs.x + 17*ys.y) % 256 AS rch
        |      FROM d
        |      JOIN (SELECT * FROM generate_series(0, 11)) xs(x) ON xs.x < d.w
        |      JOIN (SELECT * FROM generate_series(0, 9)) ys(y) ON ys.y < d.h),
        |agg AS (SELECT doc_id, w, h,
        |          CAST(w AS BIGINT) * h AS n_px,
        |          CAST(sum(bch) AS BIGINT) AS sum_b,
        |          CAST(sum(gch) AS BIGINT) AS sum_g,
        |          CAST(sum(rch) AS BIGINT) AS sum_r,
        |          CAST(sum(y * rch) AS BIGINT) AS ywr_sum
        |        FROM g GROUP BY doc_id, w, h)
        |SELECT d.doc_id,
        |  CASE WHEN d.doc_id % 10 = 9 THEN NULL ELSE a.w END AS width,
        |  CASE WHEN d.doc_id % 10 = 9 THEN NULL ELSE a.h END AS height,
        |  CASE WHEN d.doc_id % 10 = 9 THEN NULL ELSE a.n_px END AS n_px,
        |  CASE WHEN d.doc_id % 10 = 9 THEN NULL ELSE a.sum_b END AS sum_b,
        |  CASE WHEN d.doc_id % 10 = 9 THEN NULL ELSE a.sum_g END AS sum_g,
        |  CASE WHEN d.doc_id % 10 = 9 THEN NULL ELSE a.sum_r END AS sum_r,
        |  CASE WHEN d.doc_id % 10 = 9 THEN NULL ELSE a.ywr_sum END AS ywr_sum,
        |  CASE WHEN d.doc_id % 10 = 9 THEN NULL
        |       ELSE CAST(d.doc_id % 256 AS INT) END AS corner_tl_b,
        |  CAST(d.doc_id % 10 <> 9 AS INT) AS valid
        |FROM d JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),
  )
}
