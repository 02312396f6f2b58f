package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.roundStable
import graft.text.TextStats

/** Text-corpus curation over `documents` (`graft.text`): tokens, quality,
  * language id, contamination, retrieval and n-gram statistics.
  */
private[graft] object TextQueries {

  /** Deterministically planted messy URLs for q368/q369 (the q81
    * plant-in-query discipline): scheme/host case noise, www. and :80
    * variants, a tracking param, shuffled param order, fragments.
    */
  private def plantedUrls(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"),
      concat(
        when(col("doc_id") % 3 === 0, "HTTP").otherwise("http"),
        lit("://"),
        when(col("doc_id") % 4 === 0, concat(lit("WWW."), upper(col("source"))))
          .otherwise(col("source")),
        lit(".example.com"),
        when(col("doc_id") % 5 === 0, ":80").otherwise(""),
        lit("/p/"), (col("doc_id") % 7).cast("string"),
        lit("?utm_source=feed&b="), (col("doc_id") % 3).cast("string"),
        lit("&a=1"),
        when(col("doc_id") % 2 === 0, "#frag").otherwise("")).as("url"))

  val queries: Seq[Query] = Seq(
    Query("q30_tokens", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextStats.wsTokenCount(col("text")).as("ws_tokens"),
          TextStats.reTokenCount(col("text")).as("re_tokens"))
        .orderBy(col("doc_id")),
      """SELECT doc_id,
        | CAST(len(str_split(text, ' ')) AS BIGINT) AS ws_tokens,
        | CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),

    Query("q31_quality_score", (s, dir) => {
      val stops = Seq("the", "a")
      Tables.documents(s, dir)
        .select(col("doc_id"),
          roundStable(TextStats.punctRatio(col("text")), 6).as("punct_ratio"),
          roundStable(TextStats.stopwordRatio(col("text"), stops), 6).as("stopword_ratio"),
          roundStable(TextStats.meanWordLen(col("text")), 6).as("mean_word_len"),
          roundStable(TextStats.qualityScore(col("text"), stops), 6).as("quality"))
        .orderBy(col("doc_id"))
    },
      """WITH t AS (SELECT doc_id, text, str_split(text, ' ') AS toks FROM documents)
        |SELECT doc_id,
        | roundStable(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / CAST(length(text) AS DOUBLE), 6) AS punct_ratio,
        | roundStable(CAST(len(list_filter(toks, x -> x IN ('the','a'))) AS DOUBLE) / CAST(len(toks) AS DOUBLE), 6) AS stopword_ratio,
        | roundStable(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE), 6) AS mean_word_len,
        | roundStable(0.5 * least(1.0, CAST(len(toks) AS DOUBLE) / 50.0)
        |   + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / CAST(length(text) AS DOUBLE))
        |   + 0.2 * (CAST(len(list_filter(toks, x -> x IN ('the','a'))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)), 6) AS quality
        |FROM t ORDER BY doc_id""".stripMargin),

    Query("q32_langid", (s, dir) => {
      val (en, es, zh) = TextStats.langIdScores(col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id"), en.as("s_en"), es.as("s_es"), zh.as("s_zh"),
          TextStats.langId(col("text")).as("predicted_lang"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, s_en, s_es, s_zh,
        | CASE WHEN s_en >= s_es AND s_en >= s_zh THEN 'en'
        |      WHEN s_es >= s_zh THEN 'es'
        |      ELSE 'zh' END AS predicted_lang
        |FROM (
        |  SELECT doc_id,
        |    CAST(len(list_filter(str_split(text,' '), x -> x IN ('the','a'))) AS BIGINT) AS s_en,
        |    CAST(len(list_filter(str_split(text,' '), x -> x IN ('el','la','de','que'))) AS BIGINT) AS s_es,
        |    CAST(len(list_filter(str_split(text,' '), x -> x IN ('的','是','了'))) AS BIGINT) AS s_zh
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin),

    Query("q33_fingerprint", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      Tables.documents(s, dir)
        .select(col("doc_id"), TextStats.fingerprint(col("text")).as("fp"))
        .withColumn("n_same", count(lit(1)).over(Window.partitionBy(col("fp"))).cast("long"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, fp, CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS n_same
        |FROM (SELECT doc_id,
        |        md5(array_to_string(list_sort(list_distinct(str_split(lower(text), ' '))), ' ')) AS fp
        |      FROM documents) t
        |ORDER BY doc_id""".stripMargin),

    Query("q44_tfidf", (s, dir) =>
      text.Tfidf.scores(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          roundStable(col("tfidf"), 6).as("tfidf"))
        .orderBy(col("tfidf").desc, col("doc_id"), col("term"))
        .limit(50),
      """WITH terms AS (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents) t
        |  GROUP BY doc_id, term),
        |dfreq AS (SELECT term, count(*) AS df FROM terms GROUP BY term),
        |nd AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, term, tf, df,
        | roundStable(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS tfidf
        |FROM terms JOIN dfreq USING (term) CROSS JOIN nd
        |ORDER BY tfidf DESC, doc_id, term LIMIT 50""".stripMargin),

    Query("q42_term_freq", (s, dir) =>
      // corpus vocabulary statistics: term + document frequency per token
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
        .orderBy(col("tf").desc, col("term"))
        .limit(20),
      """SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
        |FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents) t
        |GROUP BY term ORDER BY tf DESC, term LIMIT 20""".stripMargin),

    Query("q60_text_normalize", (s, dir) =>
      // LLM-pipeline text canonicalization: lowercase, mask URLs and
      // emails, collapse whitespace — all codegen'd string expressions
      Tables.documents(s, dir)
        .select(col("doc_id"),
          regexp_replace(
            regexp_replace(
              regexp_replace(lower(col("text")),
                "https?://[^ ]+", "<url>"),
              "[a-z0-9.]+@[a-z0-9.]+", "<email>"),
            "  +", " ").as("norm_text"))
        .withColumn("n_chars_norm", length(col("norm_text")).cast("long"))
        .orderBy(col("doc_id")),
      """WITH t AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(lower(text),
        |    'https?://[^ ]+', '<url>', 'g'),
        |    '[a-z0-9.]+@[a-z0-9.]+', '<email>', 'g'),
        |    '  +', ' ', 'g') AS norm_text
        | FROM documents)
        |SELECT doc_id, norm_text, CAST(length(norm_text) AS BIGINT) AS n_chars_norm
        |FROM t ORDER BY doc_id""".stripMargin),

    Query("q61_quality_filter", (s, dir) => {
      // end-to-end LLM corpus filter: keep documents passing the
      // composite quality gate (score, language, token range) — the
      // selection step that feeds a training-data pipeline
      val stops = Seq("the", "a")
      val toks = TextStats.wsTokenCount(col("text"))
      Tables.documents(s, dir)
        .withColumn("quality", TextStats.qualityScore(col("text"), stops))
        .withColumn("lang", TextStats.langId(col("text")))
        .withColumn("n_toks", toks)
        .filter(col("quality") >= 0.5 && col("lang") === "en" &&
          col("n_toks").between(20, 150))
        .select(col("doc_id"), roundStable(col("quality"), 6).as("quality"),
          col("n_toks"))
        .orderBy(col("doc_id"))
    },
      """WITH t AS (SELECT doc_id, text, str_split(text, ' ') AS toks FROM documents),
        |q AS (SELECT doc_id,
        |  0.5 * least(1.0, CAST(len(toks) AS DOUBLE) / 50.0)
        |   + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / CAST(length(text) AS DOUBLE))
        |   + 0.2 * (CAST(len(list_filter(toks, x -> x IN ('the','a'))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)) AS quality,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a'))) AS BIGINT) AS s_en,
        |  CAST(len(list_filter(toks, x -> x IN ('el','la','de','que'))) AS BIGINT) AS s_es,
        |  CAST(len(list_filter(toks, x -> x IN ('的','是','了'))) AS BIGINT) AS s_zh,
        |  CAST(len(toks) AS BIGINT) AS n_toks
        | FROM t)
        |SELECT doc_id, roundStable(quality, 6) AS quality, n_toks
        |FROM q
        |WHERE quality >= 0.5
        |  AND s_en >= s_es AND s_en >= s_zh
        |  AND n_toks BETWEEN 20 AND 150
        |ORDER BY doc_id""".stripMargin),

    Query("q74_repetition", (s, dir) =>
      // Gopher-style repetition quality signals: top-bigram coverage
      // fraction + distinct-token ratio per document. Explode → two
      // partial-agg keyed shuffles; no per-doc driver work.
      text.Corpus.repetitionStats(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")),
      """WITH t AS (SELECT doc_id, str_split(text,' ') AS toks FROM documents),
        |b AS (SELECT doc_id, len(toks) AS n_toks, len(list_distinct(toks)) AS n_distinct,
        |        unnest(list_transform(generate_series(1, len(toks)-1),
        |          i -> toks[i] || ' ' || toks[i+1])) AS bg
        |      FROM t),
        |c AS (SELECT doc_id, n_toks, n_distinct, bg, count(*) AS cnt
        |      FROM b GROUP BY 1,2,3,4)
        |SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
        |  CAST(max(cnt) AS BIGINT) AS top_bigram_cnt,
        |  roundStable(max(cnt)*2.0/n_toks, 6) AS top_bigram_frac,
        |  roundStable(CAST(n_distinct AS DOUBLE)/n_toks, 6) AS distinct_ratio
        |FROM c GROUP BY doc_id, n_toks, n_distinct
        |ORDER BY doc_id""".stripMargin),

    Query("q75_domain_mix", (s, dir) =>
      // temperature-scaled domain sampling weights (share^0.5,
      // renormalized): one corpus aggregation to #domains rows, totals
      // via tiny broadcast cross-joins
      text.Corpus.mixWeights(Tables.documents(s, dir), "lang", "text", alpha = 0.5)
        .orderBy(col("lang")),
      """WITH g AS (SELECT lang, count(*) AS n_docs,
        |             sum(len(str_split(text,' '))) AS n_toks
        |           FROM documents GROUP BY lang),
        |w AS (SELECT lang, n_docs, n_toks,
        |        CAST(n_toks AS DOUBLE)/sum(n_toks) OVER () AS share,
        |        pow(CAST(n_toks AS DOUBLE)/sum(n_toks) OVER (), 0.5) AS raw_w
        |      FROM g)
        |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_toks AS BIGINT) AS n_toks,
        |  roundStable(share, 6) AS share,
        |  roundStable(raw_w/sum(raw_w) OVER (), 6) AS mix_weight
        |FROM w ORDER BY lang""".stripMargin),

    Query("q76_chunk_windows", (s, dir) =>
      // sliding-window context chunking (window 32, stride 24): pure
      // narrow map — sequence + explode + slice, zero shuffles before
      // the presentation sort
      text.Corpus.chunkWindows(Tables.documents(s, dir), "doc_id", "text",
        window = 32, stride = 24)
        .orderBy(col("doc_id"), col("chunk_idx")),
      """WITH t AS (SELECT doc_id, str_split(text,' ') AS toks FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS n,
        |        CAST(ceil(greatest(len(toks)-32, 0)/24.0) AS INT)+1 AS n_chunks
        |      FROM t),
        |c AS (SELECT doc_id, unnest(generate_series(0, n_chunks-1)) AS cidx, toks, n
        |      FROM n)
        |SELECT doc_id, CAST(cidx AS INT) AS chunk_idx,
        |  CAST(cidx*24 AS BIGINT) AS tok_start,
        |  CAST(least(32, n - cidx*24) AS BIGINT) AS n_chunk_toks,
        |  md5(array_to_string(toks[cidx*24+1 : cidx*24+32], ' ')) AS chunk_hash
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin),

    Query("q77_contamination", (s, dir) => {
      // benchmark decontamination: distinct 4-gram shingle overlap of
      // the corpus (source != src0) against the benchmark slice
      // (source = src0); benchmark side broadcast, one keyed count
      val docs = Tables.documents(s, dir)
      text.Corpus.contamination(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", n = 4)
        .orderBy(col("doc_id"))
    },
      """WITH t AS (SELECT doc_id, source, str_split(text,' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, source,
        |         unnest(list_distinct(list_transform(generate_series(1, len(toks)-3),
        |           i -> array_to_string(toks[i:i+3], ' ')))) AS sh
        |       FROM t WHERE len(toks) >= 4),
        |bench AS (SELECT DISTINCT sh FROM sh WHERE source = 'src0'),
        |corpus AS (SELECT doc_id, sh FROM sh WHERE source <> 'src0'),
        |j AS (SELECT c.doc_id, count(*) AS n_shingles,
        |        sum(CASE WHEN b.sh IS NULL THEN 0 ELSE 1 END) AS n_hits
        |      FROM corpus c LEFT JOIN bench b USING (sh) GROUP BY 1)
        |SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
        |  CAST(n_hits AS BIGINT) AS n_hits,
        |  roundStable(CAST(n_hits AS DOUBLE)/n_shingles, 6) AS contamination,
        |  n_hits > 0 AS contaminated
        |FROM j ORDER BY doc_id""".stripMargin),

    Query("q100_contamination_bloom", (s, dir) => {
      // q77's 100 TB form: the benchmark side compresses to a bloom
      // filter (MB-scale literal vs a multi-GB string broadcast for a
      // real decontamination suite); corpus shingles pre-filter map-only
      // and only filter-positive rows join for the exact confirm. Same
      // oracle as q77 — the filter routes rows, never decides
      // membership, so the output must be bit-identical.
      val docs = Tables.documents(s, dir)
      text.Corpus.contaminationBloom(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", n = 4)
        .orderBy(col("doc_id"))
    },
      // the bloom path must be BIT-IDENTICAL to q77: the filter only
      // routes rows (no false negatives; positives confirmed exactly),
      // so the oracle is the same exact-decontamination SQL
      """WITH t AS (SELECT doc_id, source, str_split(text,' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, source,
        |         unnest(list_distinct(list_transform(generate_series(1, len(toks)-3),
        |           i -> array_to_string(toks[i:i+3], ' ')))) AS sh
        |       FROM t WHERE len(toks) >= 4),
        |bench AS (SELECT DISTINCT sh FROM sh WHERE source = 'src0'),
        |corpus AS (SELECT doc_id, sh FROM sh WHERE source <> 'src0'),
        |j AS (SELECT c.doc_id, count(*) AS n_shingles,
        |        sum(CASE WHEN b.sh IS NULL THEN 0 ELSE 1 END) AS n_hits
        |      FROM corpus c LEFT JOIN bench b USING (sh) GROUP BY 1)
        |SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
        |  CAST(n_hits AS BIGINT) AS n_hits,
        |  roundStable(CAST(n_hits AS DOUBLE)/n_shingles, 6) AS contamination,
        |  n_hits > 0 AS contaminated
        |FROM j ORDER BY doc_id""".stripMargin),

    Query("q101_epoch_shuffle", (s, dir) =>
      // deterministic epoch-1 corpus reshuffle into 8 shards: the
      // epoch-salted hash is the order key AND the placement — map-only,
      // no global row_number rank, replayed exactly by the oracle's
      // int64 arithmetic. Epoch-vs-epoch divergence and the sorted
      // shard-partitioned landing are spec'd (writeShards).
      text.Corpus.epochShuffle(Tables.documents(s, dir), "doc_id",
          epoch = 1, numShards = 8)
        .orderBy(col("doc_id")),
      // the epoch-salted width-safe Knuth hash replayed in pure int64
      // arithmetic (epoch 1, 8 shards); doc_id >= 0 so % == pmod
      """SELECT doc_id,
        |  ((doc_id % 2147483648) * 2654435761 + 1 * 2246822519) % 2147483648 AS h,
        |  CAST((((doc_id % 2147483648) * 2654435761 + 1 * 2246822519) % 2147483648) % 8 AS BIGINT) AS shard
        |FROM documents ORDER BY doc_id""".stripMargin),

    Query("q104_bm25", (s, dir) => {
      // BM25 top-10 retrieval: queries are the 4-token prefixes of the
      // five lowest-id documents (derived in-query so the oracle
      // recomputes the same query set); scores rounded before ranking,
      // doc_id tie-break — oracle-stable by the q44 discipline.
      val docs = Tables.documents(s, dir)
      val q5 = docs.orderBy("doc_id").limit(5)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(text.TextStats.tokens(col("text")), 1, 4))
            .as("qtext"))
      text.Retrieval.bm25TopK(docs, q5, "doc_id", "text", "qid", "qtext",
          k = 10)
        .orderBy(col("qid"), col("rank"))
    },
      // BM25 with the Lucene idf, k1=1.2 b=0.75, queries = 4-token
      // prefixes of the five lowest-id docs; identical fp expression
      // tree as the Spark side (exact integer tf/df/dl/N inputs)
      """WITH t AS (SELECT doc_id, str_split(text,' ') AS toks FROM documents),
        |st AS (SELECT count(*) AS n_docs, sum(len(toks)) AS sum_dl FROM t),
        |q AS (SELECT doc_id AS qid, toks[1:4] AS qtoks FROM t ORDER BY doc_id LIMIT 5),
        |qt AS (SELECT qid, unnest(list_distinct(qtoks)) AS tok FROM q),
        |qterms AS (SELECT DISTINCT tok FROM qt),
        |dt AS (SELECT doc_id, unnest(toks) AS tok, len(toks) AS dl FROM t),
        |tf AS (SELECT doc_id, tok, count(*) AS tf, min(dl) AS dl
        |       FROM dt JOIN qterms USING (tok) GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT qt.qid, tf.doc_id,
        |         sum(ln(1 + (st.n_docs - df.df + 0.5) / (df.df + 0.5))
        |             * tf.tf * (1.2 + 1)
        |             / (tf.tf + 1.2 * ((1 - 0.75) + 0.75 *
        |                 (tf.dl / (CAST(st.sum_dl AS DOUBLE) / st.n_docs))))) AS raw
        |       FROM tf JOIN df USING (tok) JOIN qt USING (tok) CROSS JOIN st
        |       GROUP BY 1, 2),
        |rk AS (SELECT qid, doc_id, roundStable(raw, 6) AS score,
        |         CAST(row_number() OVER (PARTITION BY qid
        |           ORDER BY roundStable(raw, 6) DESC, doc_id) AS BIGINT) AS rank
        |       FROM sc)
        |SELECT qid, doc_id, score, rank FROM rk
        |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin),

    Query("q109_group_sample", (s, dir) =>
      // exact per-domain quota: keep <= 40 docs per source, selected by
      // the width-safe hash order — deterministic, engine-replayable,
      // one keyed window shuffle (no global sort)
      text.Corpus.quotaSample(Tables.documents(s, dir), "source", "doc_id",
          maxPerDomain = 40)
        .orderBy(col("doc_id")),
      // the hash-order quota replayed in int64 arithmetic
      """WITH h AS (SELECT doc_id, source,
        |    ((doc_id % 2147483648) * 2654435761) % 2147483648 AS hh
        |  FROM documents),
        |r AS (SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY hh, doc_id) AS BIGINT) AS rk
        |  FROM h)
        |SELECT doc_id, source, rk FROM r WHERE rk <= 40 ORDER BY doc_id""".stripMargin),

    Query("q107_bpe_merges", (s, dir) => {
      // the BPE tokenizer-training loop over the documents corpus: 10
      // merge rounds on the aggregated word vocabulary. VERDICT-GATED
      // (r13): merges 2-10 depend on re-segmentation (inherently
      // iterative — engine content, exact sequence spec'd on a hand
      // corpus), but merge 1 IS the argmax adjacent-character pair of
      // the initial vocabulary — SQL-computable, so the first merge
      // and its count compare BY VALUE; merge-count and
      // pair-distinctness flatten to asserted 1/0s.
      val docs = Tables.documents(s, dir)
      val m = text.Bpe.trainMerges(docs, "text", numMerges = 10)
      val firstTrue = docs.select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .select(col("cnt"), split(col("w"), "").as("syms"))
        .select(col("cnt"),
          explode(sequence(lit(1), size(col("syms")) - 1)).as("__i"),
          col("syms"))
        .select(element_at(col("syms"), col("__i")).as("l"),
          element_at(col("syms"), col("__i") + 1).as("r"), col("cnt"))
        .groupBy(col("l"), col("r")).agg(sum(col("cnt")).as("first_count"))
        .orderBy(col("first_count").desc, col("l"), col("r")).limit(1)
      val stats = m.agg(count(lit(1)).as("n_merges"),
        (countDistinct(col("left"), col("right")) === count(lit(1)))
          .cast("bigint").as("pairs_distinct_ok"))
      m.filter(col("rank") === 0)
        .select(col("left").as("first_left"), col("right").as("first_right"))
        .crossJoin(firstTrue)
        .withColumn("first_match_ok",
          (col("first_left") === col("l") && col("first_right") === col("r"))
            .cast("bigint"))
        .drop("l", "r")
        .crossJoin(stats)
    },
      // merge 1 = the argmax adjacent-character pair of the initial
      // word vocabulary (count desc, then lexicographic on l, r) —
      // recomputed by value with its count; structure asserts as 1s
      """WITH w AS (SELECT t AS w, count(*) AS cnt
        |  FROM (SELECT unnest(str_split(text, ' ')) AS t FROM documents)
        |  WHERE len(t) >= 2 GROUP BY 1),
        |p AS (SELECT unnest([{'l': w[i:i], 'r': w[i+1:i+1]}
        |        FOR i IN range(1, len(w))]) AS pr, cnt
        |      FROM w),
        |g AS (SELECT pr.l AS l, pr.r AS r, CAST(sum(cnt) AS BIGINT) AS n
        |      FROM p GROUP BY 1, 2)
        |SELECT l AS first_left, r AS first_right, n AS first_count,
        |  CAST(1 AS BIGINT) AS first_match_ok,
        |  CAST(10 AS BIGINT) AS n_merges,
        |  CAST(1 AS BIGINT) AS pairs_distinct_ok
        |FROM g ORDER BY n DESC, l, r LIMIT 1""".stripMargin),

    Query("q114_stratified_split", (s, dir) =>
      // exact per-language 80/10/10 split by the width-safe hash order —
      // every stratum gets exactly ceil-proportioned train/val/test
      // (q82's map-only split only hits these in expectation)
      text.Corpus.stratifiedSplit(Tables.documents(s, dir), "lang", "doc_id",
          trainFrac = 0.8, valFrac = 0.1)
        .orderBy(col("doc_id")),
      // the hash-rank split replayed in int64 arithmetic + IEEE ceil
      """WITH h AS (SELECT doc_id, lang,
        |    ((doc_id % 2147483648) * 2654435761) % 2147483648 AS hh
        |  FROM documents),
        |r AS (SELECT doc_id, lang,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY hh, doc_id)
        |      AS BIGINT) AS rk,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM h)
        |SELECT doc_id, lang, rk,
        |  -- CAST AS DOUBLE everywhere: DuckDB parses 0.8 as DECIMAL, but
        |  -- the engine computes IEEE doubles; and the cumulative boundary
        |  -- is the SUM (0.8 + 0.1 = 0.9000000000000001), never literal 0.9
        |  CASE WHEN rk <= ceil(CAST(0.8 AS DOUBLE) * n) THEN 'train'
        |       WHEN rk <= ceil((CAST(0.8 AS DOUBLE) + CAST(0.1 AS DOUBLE)) * n)
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM r ORDER BY doc_id""".stripMargin),

    Query("q127_token_entropy", (s, dir) =>
      // lexical-diversity quality axis: per-doc type-token ratio +
      // unigram Shannon entropy — spam/boilerplate sits low on both
      text.Corpus.tokenEntropy(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")),
      // H = ln L − (Σ c·ln c)/L over each doc's own token counts
      """WITH t AS (SELECT doc_id, unnest(str_split(text, ' ')) AS tok
        |           FROM documents),
        |c AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS c
        |      FROM t GROUP BY doc_id, tok)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  count(*) AS n_types,
        |  roundStable(count(*) / sum(c), 6) AS ttr,
        |  roundStable(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    Query("q134_zipf_slope", (s, dir) =>
      // corpus-health check: OLS slope of ln(freq) on ln(rank) over
      // each source's token frequency table (natural text ≈ −1)
      text.Corpus.zipfSlope(Tables.documents(s, dir), "source", "text")
        .orderBy(col("source")),
      // rank dense by (freq desc, token); same population-moment OLS
      // as q118
      """WITH tok AS (SELECT source, unnest(str_split(text, ' ')) AS tok
        |             FROM documents),
        |c AS (SELECT source, tok, CAST(count(*) AS DOUBLE) AS freq
        |      FROM tok GROUP BY source, tok),
        |r AS (SELECT source,
        |        ln(CAST(row_number() OVER (PARTITION BY source
        |          ORDER BY freq DESC, tok) AS DOUBLE)) AS x,
        |        ln(freq) AS y
        |      FROM c)
        |SELECT source,
        |  roundStable(covar_pop(y, x) / var_pop(x), 6) AS slope,
        |  roundStable(avg(y) - covar_pop(y, x) / var_pop(x) * avg(x), 6)
        |    AS intercept,
        |  roundStable(pow(corr(x, y), 2), 6) AS r2,
        |  count(*) AS n
        |FROM r GROUP BY source ORDER BY source""".stripMargin),

    Query("q142_rrf_fusion", (s, dir) => {
      // hybrid retrieval: reciprocal-rank fusion of the BM25 ranking
      // (q104's exact setup) with a coordination-level coverage ranking
      // over the same query set — no score calibration, only ranks
      val docs = Tables.documents(s, dir)
      val q5 = docs.orderBy("doc_id").limit(5)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(text.TextStats.tokens(col("text")), 1, 4))
            .as("qtext"))
      val bm = text.Retrieval.bm25TopK(docs, q5, "doc_id", "text",
        "qid", "qtext", k = 10)
      val cov = text.Retrieval.coverageTopK(docs, q5, "doc_id", "text",
        "qid", "qtext", k = 10)
      text.Retrieval.rrfFuse(Seq(bm, cov), "qid", "doc_id", "rank",
          kRrf = 60, topK = 10)
        .orderBy(col("qid"), col("rank"))
    },
      // q104's BM25 CTEs verbatim + a distinct-term coverage ranking
      // over the same query set; fusion = Σ 1/(60 + rank), re-ranked
      """WITH t AS (SELECT doc_id, str_split(text,' ') AS toks FROM documents),
        |st AS (SELECT count(*) AS n_docs, sum(len(toks)) AS sum_dl FROM t),
        |q AS (SELECT doc_id AS qid, toks[1:4] AS qtoks FROM t ORDER BY doc_id LIMIT 5),
        |qt AS (SELECT qid, unnest(list_distinct(qtoks)) AS tok FROM q),
        |qterms AS (SELECT DISTINCT tok FROM qt),
        |dt AS (SELECT doc_id, unnest(toks) AS tok, len(toks) AS dl FROM t),
        |tf AS (SELECT doc_id, tok, count(*) AS tf, min(dl) AS dl
        |       FROM dt JOIN qterms USING (tok) GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT qt.qid, tf.doc_id,
        |         sum(ln(1 + (st.n_docs - df.df + 0.5) / (df.df + 0.5))
        |             * tf.tf * (1.2 + 1)
        |             / (tf.tf + 1.2 * ((1 - 0.75) + 0.75 *
        |                 (tf.dl / (CAST(st.sum_dl AS DOUBLE) / st.n_docs))))) AS raw
        |       FROM tf JOIN df USING (tok) JOIN qt USING (tok) CROSS JOIN st
        |       GROUP BY 1, 2),
        |bm AS (SELECT qid, doc_id,
        |         CAST(row_number() OVER (PARTITION BY qid
        |           ORDER BY roundStable(raw, 6) DESC, doc_id) AS BIGINT) AS rank
        |       FROM sc),
        |cv AS (SELECT qt.qid, ddt.doc_id, count(*) AS n_matched
        |       FROM (SELECT DISTINCT doc_id, tok FROM dt) ddt
        |       JOIN qt USING (tok) GROUP BY 1, 2),
        |cvr AS (SELECT qid, doc_id,
        |         CAST(row_number() OVER (PARTITION BY qid
        |           ORDER BY n_matched DESC, doc_id) AS BIGINT) AS rank
        |       FROM cv),
        |u AS (SELECT qid, doc_id, CAST(1.0 AS DOUBLE) / (60 + rank) AS c
        |      FROM bm WHERE rank <= 10
        |      UNION ALL
        |      SELECT qid, doc_id, CAST(1.0 AS DOUBLE) / (60 + rank) AS c
        |      FROM cvr WHERE rank <= 10),
        |f AS (SELECT qid, doc_id, roundStable(sum(c), 6) AS rrf_score,
        |        count(*) AS n_lists
        |      FROM u GROUP BY qid, doc_id),
        |r AS (SELECT qid, doc_id, rrf_score, n_lists,
        |        CAST(row_number() OVER (PARTITION BY qid
        |          ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rank
        |      FROM f)
        |SELECT qid, doc_id, rrf_score, n_lists, rank FROM r
        |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin),

    Query("q157_weighted_sample", (s, dir) =>
      // exact weighted-without-replacement sampling (Efraimidis-
      // Spirakis): 20 docs per source, longer docs proportionally more
      // likely, never twice — the missing corner of the sampling ladder
      // (q85 weighted in-expectation, q109 exact unweighted)
      text.Corpus.weightedSample(Tables.documents(s, dir), "source",
          "doc_id", "n_chars", k = 20)
        .select(col("doc_id"), col("source"), col("n_chars"), col("rk"))
        .orderBy(col("source"), col("rk")),
      // the E-S selection key ln(u)/w replayed in int64+double
      // arithmetic, rounded BEFORE the rank cut (q94 discipline)
      """WITH s AS (SELECT doc_id, source, n_chars,
        |    roundStable(ln((((doc_id % 2147483648) * 2654435761)
        |        % 2147483648 + 0.5) / 2147483648.0)
        |      / CAST(n_chars AS DOUBLE), 6) AS es
        |  FROM documents WHERE n_chars > 0),
        |r AS (SELECT doc_id, source, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY es DESC, doc_id) AS BIGINT) AS rk
        |  FROM s)
        |SELECT doc_id, source, n_chars, rk FROM r
        |WHERE rk <= 20 ORDER BY source, rk""".stripMargin),

    Query("q165_vocab_coverage", (s, dir) =>
      // tokenizer-fit screen: per-doc OOV rate against the corpus's own
      // top-500 token vocabulary (deterministic boundary cut) — docs
      // that shatter into unknowns at training time surface here
      text.Corpus.vocabCoverage(Tables.documents(s, dir), "doc_id",
          "text", vocabSize = 500)
        .orderBy(col("doc_id")),
      // top-500 vocab with the deterministic (tf DESC, token ASC)
      // boundary cut, then per-doc OOV tallies
      """WITH tok AS (SELECT doc_id, unnest(str_split(text, ' ')) AS t
        |      FROM documents),
        |v AS (SELECT t FROM (SELECT t, count(*) AS tf FROM tok
        |      GROUP BY 1 ORDER BY tf DESC, t LIMIT 500)),
        |j AS (SELECT tok.doc_id, tok.t,
        |        CASE WHEN v.t IS NULL THEN 1 ELSE 0 END AS oov
        |      FROM tok LEFT JOIN v ON v.t = tok.t)
        |SELECT doc_id,
        |  count(*) AS n_tokens,
        |  CAST(sum(oov) AS BIGINT) AS n_oov,
        |  roundStable(CAST(sum(oov) AS DOUBLE) / count(*), 6) AS oov_rate,
        |  CAST(count(DISTINCT CASE WHEN oov = 1 THEN t END) AS BIGINT)
        |    AS n_oov_types
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    Query("q169_chunk_dedup", (s, dir) =>
      // C4-style within-doc boilerplate strip: non-overlapping 8-token
      // chunks, repeats of an already-seen chunk dropped (first kept,
      // in position order), survivors re-assembled
      text.Corpus.chunkDedup(Tables.documents(s, dir), "doc_id", "text",
          window = 8)
        .orderBy(col("doc_id")),
      // the same non-overlapping chunk geometry, keep-first via
      // row_number, rebuild via ordered string_agg (NULLs skipped)
      """WITH t AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
        |ch AS (SELECT doc_id, i AS ci,
        |        array_to_string(w[(i*8+1):(i*8+8)], ' ') AS chunk
        |      FROM (SELECT doc_id, w,
        |              unnest(range(0, greatest(
        |                CAST(ceil(len(w) / 8.0) AS INT), 1))) AS i
        |            FROM t)),
        |r AS (SELECT doc_id, ci, chunk,
        |        row_number() OVER (PARTITION BY doc_id, chunk
        |          ORDER BY ci) AS rn
        |      FROM ch)
        |SELECT doc_id,
        |  count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_chunks,
        |  string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY ci)
        |    AS clean_text
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    Query("q175_kfold", (s, dir) =>
      // deterministic k-fold census: fold sizes + char mass per fold —
      // the cross-validation corner of the split family (q82/q109/q114)
      text.Corpus.kFold(Tables.documents(s, dir), "doc_id", k = 5)
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy(col("fold")),
      // the idHash fold assignment replayed in int64 arithmetic
      """WITH f AS (SELECT ((doc_id % 2147483648) * 2654435761)
        |        % 2147483648 % 5 AS fold, n_chars, source
        |      FROM documents)
        |SELECT fold, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        |FROM f GROUP BY 1 ORDER BY fold""".stripMargin),

    Query("q184_winnow", (s, dir) =>
      // winnowing fingerprint census (the MOSS selection, k=8 w=4):
      // per-doc selected-gram count and density vs the ~2/(w+1)
      // expectation; the md5-prefix hash makes the SELECTION itself
      // oracle-replayable, not just the counts
      text.Winnow.density(Tables.documents(s, dir), "doc_id", "text",
          k = 8, w = 4)
        .orderBy(col("doc")),
      // the identical packed (md5-prefix-hash, rightmost-pos) argmin:
      // hex parsed digit-by-digit (exact below 2^53), same window frame
      """WITH d AS (SELECT doc_id, lower(text) AS t FROM documents
        |      WHERE len(lower(text)) >= 8 AND len(lower(text)) < 1048576),
        |g AS (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS pos FROM d),
        |x AS (SELECT doc_id, pos, md5(substr(t, pos, 8)) AS hh FROM g),
        |h AS (SELECT doc_id, pos,
        |    CAST(list_sum([CAST((CASE WHEN unicode(hh[i]) >= 97
        |        THEN unicode(hh[i]) - 87 ELSE unicode(hh[i]) - 48 END)
        |        AS BIGINT) * 16 ** (10 - i) FOR i IN range(1, 11)])
        |      AS BIGINT) * 1048576 + (1048576 - pos) AS packed
        |  FROM x),
        |s AS (SELECT doc_id, pos, min(packed) OVER (PARTITION BY doc_id
        |        ORDER BY pos ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        |        AS sel FROM h),
        |f AS (SELECT doc_id, count(DISTINCT sel) AS n_fp
        |      FROM s WHERE pos >= 4 GROUP BY 1)
        |SELECT d.doc_id AS doc, CAST(len(d.t) - 7 AS BIGINT) AS n_grams,
        |  f.n_fp,
        |  roundStable(CAST(f.n_fp AS DOUBLE)
        |    / greatest(len(d.t) - 7 - 3, 1), 6) AS fp_density
        |FROM d JOIN f ON f.doc_id = d.doc_id ORDER BY doc""".stripMargin),

    Query("q185_winnow_pairs", (s, dir) =>
      // the MOSS report: doc pairs by DISTINCT shared fingerprints,
      // doc-freq-capped candidates (the q135 discipline) — every shared
      // run >= k+w-1 = 11 chars has a provable floor in n_shared; the
      // threshold sits past the measured background (random pairs share
      // a median of 8 common-English fingerprints, 99.9% < 34; planted
      // near-dups reach 200+)
      text.Winnow.sharedPairs(Tables.documents(s, dir), "doc_id", "text",
          k = 8, w = 4, maxDocFreq = 1000L, minShared = 40L)
        .orderBy(col("doc_a"), col("doc_b")),
      // the q184 selection replayed, then distinct (doc, hash), the
      // same doc-freq cap, and the pair join
      """WITH d AS (SELECT doc_id, lower(text) AS t FROM documents
        |      WHERE len(lower(text)) >= 8 AND len(lower(text)) < 1048576),
        |g AS (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS pos FROM d),
        |x AS (SELECT doc_id, pos, md5(substr(t, pos, 8)) AS hh FROM g),
        |h AS (SELECT doc_id, pos,
        |    CAST(list_sum([CAST((CASE WHEN unicode(hh[i]) >= 97
        |        THEN unicode(hh[i]) - 87 ELSE unicode(hh[i]) - 48 END)
        |        AS BIGINT) * 16 ** (10 - i) FOR i IN range(1, 11)])
        |      AS BIGINT) * 1048576 + (1048576 - pos) AS packed
        |  FROM x),
        |s AS (SELECT doc_id, pos, min(packed) OVER (PARTITION BY doc_id
        |        ORDER BY pos ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        |        AS sel FROM h),
        |fp AS (SELECT DISTINCT doc_id, sel // 1048576 AS fh
        |      FROM s WHERE pos >= 4),
        |rare AS (SELECT fh FROM fp GROUP BY 1
        |      HAVING count(DISTINCT doc_id) <= 1000),
        |ix AS (SELECT fp.doc_id, fp.fh FROM fp JOIN rare USING (fh))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  count(*) AS n_shared
        |FROM ix a JOIN ix b ON a.fh = b.fh AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 40
        |ORDER BY doc_a, doc_b""".stripMargin),

    Query("q191_tfidf_top", (s, dir) =>
      // keyphrase extraction: top-5 TF-IDF terms per doc, rounded
      // before ranking (deterministic cut), WindowGroupLimit plan
      text.Tfidf.topTerms(Tables.documents(s, dir), "doc_id", "text",
          k = 5)
        .orderBy(col("doc_id"), col("rank")),
      // the q44 scores, rounded, then the same (tfidf desc, term)
      // row_number cut
      """WITH terms AS (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(str_split(text, ' ')) AS term
        |    FROM documents) t
        |  GROUP BY doc_id, term),
        |dfreq AS (SELECT term, count(*) AS df FROM terms GROUP BY term),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT doc_id, term, tf, df,
        |    roundStable(CAST(tf AS DOUBLE)
        |      * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6)
        |      AS tfidf_r
        |  FROM terms JOIN dfreq USING (term) CROSS JOIN nd)
        |SELECT doc_id, term, tf, df, tfidf_r, rank FROM (
        |  SELECT sc.*, CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf_r DESC, term) AS BIGINT) AS rank
        |  FROM sc) t
        |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin),

    Query("q199_novelty", (s, dir) =>
      // per-doc first-occurrence rate of word trigrams vs all EARLIER
      // docs — the curation signal between exact dedup and
      // decontamination (a re-crawling feed's novelty curve collapses)
      text.Corpus.novelty(Tables.documents(s, dir), "doc_id", "text",
          n = 3)
        .orderBy(col("doc_id")),
      // distinct trigrams per doc (the q34 shingle convention), global
      // first-occurrence by min(doc_id), per-doc novel fraction
      """WITH s AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
        |sh0 AS (SELECT doc_id,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |      FOR i IN range(1, len(w) - 1)]) AS shingles
        |  FROM s WHERE len(w) >= 3),
        |ex AS (SELECT doc_id, unnest(shingles) AS sh FROM sh0),
        |f AS (SELECT sh, min(doc_id) AS fd FROM ex GROUP BY 1)
        |SELECT e.doc_id, count(*) AS n_shingles,
        |  CAST(sum(CASE WHEN f.fd = e.doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  roundStable(CAST(sum(CASE WHEN f.fd = e.doc_id THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) AS novelty_rate
        |FROM ex e JOIN f USING (sh) GROUP BY 1 ORDER BY doc_id""".stripMargin),

    Query("q210_hash_features", (s, dir) =>
      // fixed-dim sparse vectors, no vocabulary table: the hashing
      // trick with md5-replayable buckets and ±1 signs
      text.HashFeatures.hashFeatures(Tables.documents(s, dir), "doc_id",
          "text", dim = 512)
        .orderBy(col("doc_id"), col("feature")),
      // md5 hex prefix mod dim for the bucket, 11th hex digit parity
      // for the sign — the winnow digit-parse convention
      """WITH tk AS (SELECT doc_id, unnest(str_split(text, ' ')) AS tok
        |  FROM documents),
        |h AS (SELECT doc_id, md5(tok) AS hh FROM tk WHERE tok <> ''),
        |f AS (SELECT doc_id,
        |    CAST(list_sum([CAST((CASE WHEN unicode(hh[i]) >= 97
        |        THEN unicode(hh[i]) - 87 ELSE unicode(hh[i]) - 48 END)
        |        AS BIGINT) * 16 ** (10 - i) FOR i IN range(1, 11)])
        |      AS BIGINT) % 512 AS feature,
        |    (CASE WHEN unicode(hh[11]) >= 97 THEN unicode(hh[11]) - 87
        |      ELSE unicode(hh[11]) - 48 END) % 2 * 2 - 1 AS s
        |  FROM h)
        |SELECT doc_id, feature, CAST(sum(s) AS BIGINT) AS value
        |FROM f GROUP BY 1, 2 HAVING sum(s) <> 0
        |ORDER BY doc_id, feature""".stripMargin),

    Query("q214_fertility", (s, dir) =>
      // tokenizer fertility census per language: tokens/doc,
      // chars/token (the cross-lingual equity metric), type-token ratio
      text.Corpus.fertility(Tables.documents(s, dir), "lang", "text")
        .orderBy(col("lang")),
      // whitespace tokens (the q42 convention), empty tokens filtered
      """WITH tk AS (SELECT lang, unnest(str_split(text, ' ')) AS tok
        |  FROM documents),
        |f AS (SELECT lang, tok FROM tk WHERE tok <> ''),
        |d AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
        |a AS (SELECT lang, count(*) AS total_tokens,
        |    count(DISTINCT tok) AS n_types,
        |    sum(length(tok)) AS chars FROM f GROUP BY 1)
        |SELECT a.lang, d.n_docs, a.total_tokens,
        |  CAST(a.n_types AS BIGINT) AS n_types,
        |  roundStable(CAST(a.total_tokens AS DOUBLE) / d.n_docs, 6)
        |    AS tokens_per_doc,
        |  roundStable(CAST(chars AS DOUBLE) / a.total_tokens, 6)
        |    AS chars_per_token,
        |  roundStable(CAST(a.n_types AS DOUBLE) / a.total_tokens, 6)
        |    AS type_token_ratio
        |FROM a JOIN d USING (lang) ORDER BY lang""".stripMargin),

    Query("q221_burstiness", (s, dir) =>
      // content-vs-function word separation: population Fano factor of
      // per-doc counts (zeros included, computed algebraically)
      text.Corpus.burstiness(Tables.documents(s, dir), "doc_id", "text",
          minDf = 3)
        .orderBy(col("tok")),
      // same algebraic Fano (df, cf, sum c^2 against total docs — the
      // zero rows never materialize), same minDf pruning
      """WITH tk AS (SELECT doc_id, unnest(str_split(text, ' ')) AS tok
        |  FROM documents),
        |pd AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS c
        |  FROM tk WHERE tok <> '' GROUP BY 1, 2),
        |nd AS (SELECT CAST(count(*) AS DOUBLE) AS ndocs FROM documents),
        |a AS (SELECT tok, count(*) AS df, sum(c) AS cf,
        |    sum(c * c) AS s2
        |  FROM pd GROUP BY 1 HAVING count(*) >= 3)
        |SELECT tok, CAST(df AS BIGINT) AS df, CAST(cf AS BIGINT) AS cf,
        |  roundStable((s2 / ndocs - (cf / ndocs) * (cf / ndocs))
        |    / (cf / ndocs), 6) AS fano
        |FROM a, nd ORDER BY tok""".stripMargin),

    Query("q222_heaps", (s, dir) =>
      // vocabulary-growth law per source: V ~ K*n^beta over doc-boundary
      // checkpoints — predicts the OOV cost of the next 10x of corpus
      text.Corpus.heapsLaw(Tables.documents(s, dir), "source", "doc_id",
          "text")
        .orderBy(col("source")),
      // type introductions from one min(doc) agg, cumulative windows,
      // the q118 population-moment OLS over the log-log checkpoints
      """WITH tk AS (SELECT source, doc_id AS d,
        |    unnest(str_split(text, ' ')) AS tok FROM documents),
        |f AS (SELECT source, d, tok FROM tk WHERE tok <> ''),
        |pd AS (SELECT source, d, count(*) AS nt FROM f GROUP BY 1, 2),
        |iv AS (SELECT source, tok, min(d) AS d FROM f GROUP BY 1, 2),
        |ic AS (SELECT source, d, count(*) AS nv FROM iv GROUP BY 1, 2),
        |cp AS (SELECT pd.source,
        |    sum(pd.nt) OVER (PARTITION BY pd.source ORDER BY pd.d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n,
        |    sum(coalesce(ic.nv, 0)) OVER (PARTITION BY pd.source
        |      ORDER BY pd.d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
        |  FROM pd LEFT JOIN ic ON ic.source = pd.source AND ic.d = pd.d),
        |l AS (SELECT source, ln(CAST(n AS DOUBLE)) AS x,
        |    ln(CAST(v AS DOUBLE)) AS y FROM cp WHERE n > 0 AND v > 0)
        |SELECT source,
        |  roundStable(CASE WHEN var_pop(x) > 0
        |    THEN covar_pop(y, x) / var_pop(x) END, 6) AS beta,
        |  roundStable(exp(roundStable(CASE WHEN var_pop(x) > 0
        |    THEN avg(y) - covar_pop(y, x) / var_pop(x) * avg(x) END, 6)),
        |    6) AS k,
        |  roundStable(CASE WHEN var_pop(x) > 0 AND var_pop(y) > 0
        |    THEN covar_pop(y, x) * covar_pop(y, x)
        |      / (var_pop(x) * var_pop(y)) END, 6) AS r2,
        |  count(*) AS n_checkpoints
        |FROM l GROUP BY source ORDER BY source""".stripMargin),

    Query("q235_freq_spectrum", (s, dir) =>
      // the Good-Turing frequency-of-frequencies table: vocabulary and
      // mass share per occurrence count (hapax share = feed health)
      text.Corpus.freqSpectrum(Tables.documents(s, dir), "text")
        .orderBy(col("r")),
      // token counts then count-of-counts; shares off the same windows
      """WITH tk AS (SELECT unnest(str_split(text, ' ')) AS tok
        |  FROM documents),
        |c AS (SELECT tok, count(*) AS r FROM tk WHERE tok <> ''
        |  GROUP BY 1),
        |s AS (SELECT r, count(*) AS n_types FROM c GROUP BY 1),
        |w AS (SELECT *, sum(r * n_types) OVER () AS mass,
        |    sum(n_types) OVER () AS v FROM s)
        |SELECT CAST(r AS BIGINT) AS r, CAST(n_types AS BIGINT) AS n_types,
        |  roundStable(CAST(r * n_types AS DOUBLE) / mass, 6) AS mass_share,
        |  roundStable(CAST(n_types AS DOUBLE) / v, 6) AS type_share
        |FROM w ORDER BY r""".stripMargin),

    Query("q242_langid_confusion", (s, dir) => {
      // declared-vs-detected language confusion: the census that says
      // whether the lang column can be TRUSTED before anyone filters on it
      import org.apache.spark.sql.expressions.Window
      Tables.documents(s, dir)
        .groupBy(col("lang"), TextStats.langId(col("text")).as("predicted_lang"))
        .agg(count(lit(1)).as("n"))
        .withColumn("share_of_lang", roundStable(col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("lang"))), 6))
        .orderBy(col("lang"), col("predicted_lang"))
    },
      // the q32 scoring verbatim, folded to the confusion cells
      """WITH p AS (SELECT lang,
        |    CASE WHEN s_en >= s_es AND s_en >= s_zh THEN 'en'
        |         WHEN s_es >= s_zh THEN 'es' ELSE 'zh' END
        |      AS predicted_lang
        |  FROM (SELECT lang,
        |      CAST(len(list_filter(str_split(text,' '),
        |        x -> x IN ('the','a'))) AS BIGINT) AS s_en,
        |      CAST(len(list_filter(str_split(text,' '),
        |        x -> x IN ('el','la','de','que'))) AS BIGINT) AS s_es,
        |      CAST(len(list_filter(str_split(text,' '),
        |        x -> x IN ('的','是','了'))) AS BIGINT) AS s_zh
        |    FROM documents) t),
        |c AS (SELECT lang, predicted_lang, count(*) AS n
        |  FROM p GROUP BY 1, 2)
        |SELECT lang, predicted_lang, n,
        |  roundStable(CAST(n AS DOUBLE)
        |    / sum(n) OVER (PARTITION BY lang), 6) AS share_of_lang
        |FROM c ORDER BY lang, predicted_lang""".stripMargin),

    Query("q243_cohen_kappa", (s, dir) =>
      // chance-corrected agreement between the declared lang column and
      // the content detector — raw accuracy flatters majority-class luck
      etl.MlEval.cohenKappa(Tables.documents(s, dir), Nil,
          aCol = col("lang"), bCol = text.TextStats.langId(col("text"))),
      // q32 scoring; p_e meets on the distinct-label table (the
      // missing-diagonal case), marginals coalesced to 0
      """WITH p AS (SELECT lang AS a,
        |    CASE WHEN s_en >= s_es AND s_en >= s_zh THEN 'en'
        |         WHEN s_es >= s_zh THEN 'es' ELSE 'zh' END AS b
        |  FROM (SELECT lang,
        |      CAST(len(list_filter(str_split(text,' '),
        |        x -> x IN ('the','a'))) AS BIGINT) AS s_en,
        |      CAST(len(list_filter(str_split(text,' '),
        |        x -> x IN ('el','la','de','que'))) AS BIGINT) AS s_es,
        |      CAST(len(list_filter(str_split(text,' '),
        |        x -> x IN ('的','是','了'))) AS BIGINT) AS s_zh
        |    FROM documents) t),
        |cells AS (SELECT a, b, CAST(count(*) AS DOUBLE) AS o
        |  FROM p GROUP BY 1, 2),
        |lbl AS (SELECT a AS l FROM cells UNION SELECT b FROM cells),
        |am AS (SELECT a AS l, sum(o) AS ma FROM cells GROUP BY 1),
        |bm AS (SELECT b AS l, sum(o) AS mb FROM cells GROUP BY 1),
        |pe AS (SELECT sum(coalesce(ma, 0) * coalesce(mb, 0)) AS pexn
        |  FROM lbl LEFT JOIN am USING (l) LEFT JOIN bm USING (l)),
        |po AS (SELECT sum(CASE WHEN a = b THEN o ELSE 0 END) AS agree,
        |    sum(o) AS N FROM cells)
        |SELECT roundStable(agree / N, 6) AS observed_agreement,
        |  roundStable(pexn / (N * N), 6) AS expected_agreement,
        |  roundStable(CASE WHEN pexn / (N * N) < 1 THEN
        |    (agree / N - pexn / (N * N)) / (1.0 - pexn / (N * N)) END, 6)
        |    AS kappa,
        |  CAST(N AS BIGINT) AS n
        |FROM po, pe""".stripMargin),

    Query("q289_source_separation", (s, dir) => {
      // are sources distinguishable in embedding space — pairwise
      // cosine between per-source centroids, all relational (no UDF)
      val dims = Tables.embeddings(s, dir)
        .join(Tables.documents(s, dir),
          col("vec_id") === col("doc_id"))
        .select(col("source"), posexplode(col("embedding"))
          .as(Seq("pos", "x")))
      val cent = dims.groupBy(col("source"), col("pos"))
        .agg(avg(col("x").cast("double")).as("c"))
      val a = cent.select(col("source").as("src_a"), col("pos"),
        col("c").as("__ca"))
      val b = cent.select(col("source").as("src_b"), col("pos"),
        col("c").as("__cb"))
      a.join(b, "pos").filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(roundStable(sum(col("__ca") * col("__cb")) /
          (sqrt(sum(col("__ca") * col("__ca"))) *
            sqrt(sum(col("__cb") * col("__cb")))), 6)
          .as("centroid_cosine"))
        .orderBy(col("src_a"), col("src_b"))
    },
      // per-source centroids by dimension, pairwise cosine — position
      // bases differ per engine but pair identically within each
      """WITH d AS (SELECT doc.source AS source, e.embedding
        |  FROM embeddings e JOIN documents doc
        |    ON e.vec_id = doc.doc_id),
        |x AS (SELECT source, i AS pos,
        |    CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
        |  FROM d, range(1, 65) t(i)),
        |c AS (SELECT source, pos, avg(x) AS c FROM x GROUP BY 1, 2)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  roundStable(sum(a.c * b.c)
        |    / (sqrt(sum(a.c * a.c)) * sqrt(sum(b.c * b.c))), 6)
        |    AS centroid_cosine
        |FROM c a JOIN c b ON a.pos = b.pos AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    Query("q290_context_fit", (s, dir) => {
      // if we train at context L: truncated-doc share, tokens lost to
      // truncation, padding share under one-doc-per-sequence
      import s.implicits._
      val lens = Tables.documents(s, dir)
        .select(text.TextStats.wsTokenCount(col("text")).as("n"))
      val ctx = Seq(128L, 512L, 2048L).toDF("ctx_len")
      ctx.crossJoin(lens)
        .groupBy(col("ctx_len"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n")).as("tokens_total"),
          sum(when(col("n") > col("ctx_len"), 1L).otherwise(0L))
            .as("truncated_docs"),
          roundStable(sum(when(col("n") > col("ctx_len"),
            col("n") - col("ctx_len")).otherwise(0L)).cast("double") /
            sum(col("n")).cast("double"), 6).as("tokens_lost_share"),
          roundStable(sum(col("ctx_len") - least(col("n"), col("ctx_len")))
            .cast("double") /
            (count(lit(1)) * col("ctx_len")).cast("double"), 6)
            .as("padding_share"))
        .orderBy(col("ctx_len"))
    },
      // same length census against the same context grid
      """WITH lens AS (SELECT CAST(len(str_split(text, ' ')) AS BIGINT)
        |    AS n FROM documents),
        |ctx AS (SELECT * FROM (VALUES (128), (512), (2048)) t(ctx_len))
        |SELECT CAST(ctx_len AS BIGINT) AS ctx_len, count(*) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS tokens_total,
        |  CAST(sum(CASE WHEN n > ctx_len THEN 1 ELSE 0 END) AS BIGINT)
        |    AS truncated_docs,
        |  roundStable(CAST(sum(CASE WHEN n > ctx_len THEN n - ctx_len
        |    ELSE 0 END) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6)
        |    AS tokens_lost_share,
        |  roundStable(CAST(sum(ctx_len - least(n, ctx_len)) AS DOUBLE)
        |    / CAST(count(*) * ctx_len AS DOUBLE), 6) AS padding_share
        |FROM ctx, lens GROUP BY ctx_len ORDER BY ctx_len""".stripMargin),

    Query("q297_richness", (s, dir) =>
      // crawl-scheduling signal: Good-Turing unseen mass + Chao1
      // vocabulary floor per source — which sources still yield new
      // types and how big each vocabulary at least is
      text.Corpus.richness(Tables.documents(s, dir), "source", "text")
        .orderBy(col("source")),
      // same per-source token cells, same Good-Turing / Chao1 closed
      // forms (bias-corrected: n1(n1-1)/(2(n2+1)))
      """WITH c AS (SELECT source, t, count(*) AS c FROM (
        |    SELECT source, unnest(str_split(text, ' ')) AS t
        |    FROM documents) WHERE t <> '' GROUP BY 1, 2),
        |s AS (SELECT source, sum(c) AS n, count(*) AS v,
        |    sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n1,
        |    sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS n2
        |  FROM c GROUP BY 1)
        |SELECT source, CAST(n AS BIGINT) AS n_tokens,
        |  CAST(v AS BIGINT) AS n_types, CAST(n1 AS BIGINT) AS n_hapax,
        |  CAST(n2 AS BIGINT) AS n_dis,
        |  roundStable(CAST(n1 AS DOUBLE) / n, 6) AS p_unseen,
        |  roundStable(1.0 - CAST(n1 AS DOUBLE) / n, 6) AS coverage,
        |  roundStable(v + CAST(n1 AS DOUBLE) * (n1 - 1)
        |    / (2.0 * (n2 + 1)), 6) AS chao1
        |FROM s ORDER BY source""".stripMargin),

    Query("q299_hill", (s, dir) =>
      // effective vocabulary at three concentration sensitivities
      // (D0/D1/D2 on one "equally-common types" scale) + evenness —
      // the per-source template-flood screen
      text.Corpus.hillNumbers(Tables.documents(s, dir), "source", "text")
        .orderBy(col("source")),
      // same token cells, entropy via the log-sum identity, inverse
      // Simpson from double-typed squares
      """WITH c AS (SELECT source, t, CAST(count(*) AS DOUBLE) AS c FROM (
        |    SELECT source, unnest(str_split(text, ' ')) AS t
        |    FROM documents) WHERE t <> '' GROUP BY 1, 2),
        |s AS (SELECT source, sum(c) AS n, count(*) AS v,
        |    sum(c * ln(c)) AS clc, sum(c * c) AS c2
        |  FROM c GROUP BY 1)
        |SELECT source, CAST(n AS BIGINT) AS n_tokens,
        |  CAST(v AS BIGINT) AS d0,
        |  roundStable(exp(ln(n) - clc / n), 6) AS d1,
        |  roundStable(n * n / c2, 6) AS d2,
        |  roundStable(exp(ln(n) - clc / n) / v, 6) AS evenness
        |FROM s ORDER BY source""".stripMargin),

    Query("q303_cross_perplexity", (s, dir) =>
      // domain distance in nats/token: each source scored under every
      // other source's smoothed unigram LM, + excess over self-model
      text.Corpus.crossPerplexity(Tables.documents(s, dir), "source",
          "text", k = 0.5)
        .orderBy(col("source_a"), col("source_b")),
      // same cells, same add-k model over the global vocab, same
      // −Σ pa·ln qb fold and self-model excess
      """WITH c AS (SELECT CAST(source AS VARCHAR) AS s, t AS tok,
        |    CAST(count(*) AS DOUBLE) AS c FROM (
        |    SELECT source, unnest(str_split(text, ' ')) AS t
        |    FROM documents) WHERE t <> '' GROUP BY 1, 2),
        |tot AS (SELECT s, sum(c) AS n FROM c GROUP BY 1),
        |vv AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v FROM c),
        |a AS (SELECT c.s AS sa, c.tok, c.c / tot.n AS pa, tot.n AS na
        |  FROM c JOIN tot USING (s)),
        |g AS (SELECT a.sa, a.tok, a.pa, a.na, bt.s AS sb, bt.n AS nb,
        |    bc.c AS cb
        |  FROM a CROSS JOIN tot bt
        |  LEFT JOIN c bc ON bc.s = bt.s AND bc.tok = a.tok),
        |h AS (SELECT sa, sb, CAST(any_value(na) AS BIGINT) AS n_tokens_a,
        |    -sum(pa * ln((coalesce(cb, 0.0) + 0.5)
        |      / (nb + 0.5 * (SELECT v FROM vv)))) AS hh
        |  FROM g GROUP BY 1, 2),
        |d AS (SELECT sa, hh AS hself FROM h WHERE sa = sb)
        |SELECT h.sa AS source_a, h.sb AS source_b, h.n_tokens_a,
        |  roundStable(h.hh, 6) AS cross_entropy,
        |  roundStable(exp(h.hh), 6) AS ppl,
        |  roundStable(h.hh - d.hself, 6) AS excess
        |FROM h JOIN d USING (sa)
        |ORDER BY source_a, source_b""".stripMargin),

    Query("q304_burrows_delta", (s, dir) =>
      // stylometric distance over the top-150 function words: two
      // "different" sources with delta ≈ 0 are one pipeline wearing
      // two names
      text.Corpus.burrowsDelta(Tables.documents(s, dir), "source",
          "text", topWords = 150)
        .orderBy(col("source_a"), col("source_b")),
      // same deterministic top-150 cut, materialized zero grid, z over
      // sources with the σ>0 guard, L1 mean over pairs
      """WITH c AS (SELECT CAST(source AS VARCHAR) AS s, t AS tok,
        |    CAST(count(*) AS DOUBLE) AS c FROM (
        |    SELECT source, unnest(str_split(text, ' ')) AS t
        |    FROM documents) WHERE t <> '' GROUP BY 1, 2),
        |tot AS (SELECT s, sum(c) AS n FROM c GROUP BY 1),
        |top AS (SELECT tok FROM (SELECT tok, sum(c) AS tf FROM c
        |    GROUP BY 1 ORDER BY tf DESC, tok LIMIT 150)),
        |g AS (SELECT tot.s, top.tok, coalesce(c.c, 0.0) / tot.n AS f
        |  FROM tot CROSS JOIN top
        |  LEFT JOIN c ON c.s = tot.s AND c.tok = top.tok),
        |z AS (SELECT s, tok, CASE WHEN
        |    stddev_pop(f) OVER (PARTITION BY tok) > 0 THEN
        |    (f - avg(f) OVER (PARTITION BY tok))
        |      / stddev_pop(f) OVER (PARTITION BY tok) END AS z FROM g)
        |SELECT a.s AS source_a, b.s AS source_b,
        |  count(abs(a.z - b.z)) AS n_words,
        |  roundStable(avg(abs(a.z - b.z)), 6) AS delta
        |FROM z a JOIN z b ON a.tok = b.tok AND a.s < b.s
        |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin),

    Query("q311_token_budget", (s, dir) =>
      // mixing planner: water-fill 60% of the corpus's tokens across
      // sources at uniform target weight — which sources are supply-
      // bound and where the waterline λ sits
      text.Corpus.waterFill(
          Tables.documents(s, dir).groupBy(col("source"))
            .agg(sum(size(split(col("text"), " "))).as("toks"))
            .withColumn("weight", lit(1.0)),
          "source", "weight", "toks", budget = 0.6, asFraction = true)
        .orderBy(col("key")),
      // same ratio sort, prefix sums, closed-form waterline, and
      // LEAST(s, λw) allocation (LEAST ignores the all-capped NULL λ
      // identically on both engines)
      """WITH sup AS (SELECT source AS key, 1.0 AS w,
        |    CAST(sum(len(str_split(text, ' '))) AS DOUBLE) AS s
        |  FROM documents GROUP BY 1),
        |o AS (SELECT *, s / w AS rr,
        |    row_number() OVER (ORDER BY s / w, key) AS j,
        |    sum(s) OVER (ORDER BY s / w, key ROWS UNBOUNDED PRECEDING)
        |      AS cs,
        |    sum(w) OVER (ORDER BY s / w, key ROWS UNBOUNDED PRECEDING)
        |      AS cw FROM sup),
        |t AS (SELECT sum(s) AS ss, sum(w) AS ww FROM sup),
        |m AS (SELECT o.*, (0.6 * t.ss - (cs - s)) / (t.ww - (cw - w))
        |    AS lp FROM o, t),
        |js AS (SELECT min(j) AS jstar FROM m WHERE lp <= rr),
        |lam AS (SELECT lp AS lam FROM m, js WHERE m.j = js.jstar)
        |SELECT key, w AS weight, roundStable(s, 6) AS supply,
        |  roundStable(least(s, lam * w), 6) AS allocation,
        |  (roundStable(least(s, lam * w), 6) = roundStable(s, 6))
        |    AS capped,
        |  roundStable(lam, 6) AS fill_level
        |FROM m LEFT JOIN lam ON true ORDER BY key""".stripMargin),

    Query("q327_vocab_curve", (s, dir) =>
      // tokenizer-budget planning: token-mass coverage and OOV rate
      // at candidate vocabulary sizes
      text.Corpus.vocabCoverageCurve(Tables.documents(s, dir), "text",
          cuts = Seq(100, 500, 1000, 5000))
        .orderBy(col("vocab_size")),
      // same (tf DESC, token) ranking, cumulative mass at literal cuts
      """WITH f AS (SELECT t AS tok, CAST(count(*) AS DOUBLE) AS f
        |  FROM (SELECT unnest(str_split(text, ' ')) AS t FROM documents)
        |  WHERE t <> '' GROUP BY 1),
        |r AS (SELECT tok, f, row_number() OVER (ORDER BY f DESC, tok)
        |    AS rk, sum(f) OVER () AS tot FROM f),
        |g AS (SELECT r.*, c.vocab_size FROM r CROSS JOIN
        |  (SELECT unnest([100, 500, 1000, 5000]) AS vocab_size) c
        |  WHERE rk <= vocab_size)
        |SELECT vocab_size, count(*) AS n_types,
        |  roundStable(sum(f) / any_value(tot), 6) AS coverage,
        |  roundStable(1.0 - sum(f) / any_value(tot), 6) AS oov_rate
        |FROM g GROUP BY 1 ORDER BY vocab_size""".stripMargin),

    Query("q328_dup_profile", (s, dir) =>
      // WHERE duplication lives per source (intra vs cross) — decides
      // whether dedup must be global; 40-char prefix fingerprint
      text.Corpus.dupProfile(Tables.documents(s, dir), "source",
          fingerprint = md5(substring(col("text"), 1, 40)))
        .orderBy(col("source")),
      // same md5(prefix-40) fingerprint cells, same locality classes
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

    Query("q329_char_classes", (s, dir) =>
      // the tokenizer-free OCR/markup screen: per-source character-
      // class shares from exact length arithmetic
      text.Corpus.charClassProfile(Tables.documents(s, dir), "source",
          "text")
        .orderBy(col("source")),
      // same exact length-difference arithmetic ('g' = replace all,
      // Spark's default)
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(text)) AS BIGINT) AS n_chars,
        |  roundStable(CASE WHEN sum(len(text)) > 0 THEN
        |    CAST(sum(len(text) - len(regexp_replace(text, '[A-Za-z]',
        |      '', 'g'))) AS DOUBLE) / sum(len(text)) END, 6)
        |    AS alpha_share,
        |  roundStable(CASE WHEN sum(len(text)) > 0 THEN
        |    CAST(sum(len(text) - len(regexp_replace(text, '[0-9]',
        |      '', 'g'))) AS DOUBLE) / sum(len(text)) END, 6)
        |    AS digit_share,
        |  roundStable(CASE WHEN sum(len(text)) > 0 THEN
        |    CAST(sum(len(text) - len(regexp_replace(text, '[ \t\n]',
        |      '', 'g'))) AS DOUBLE) / sum(len(text)) END, 6)
        |    AS space_share,
        |  roundStable(CASE WHEN sum(len(text)) > 0 THEN
        |    CAST(sum(len(regexp_replace(regexp_replace(regexp_replace(
        |      text, '[A-Za-z]', '', 'g'), '[0-9]', '', 'g'),
        |      '[ \t\n]', '', 'g'))) AS DOUBLE) / sum(len(text)) END, 6)
        |    AS other_share
        |FROM documents WHERE text IS NOT NULL
        |GROUP BY 1 ORDER BY source""".stripMargin),

    Query("q360_repeated_spans", (s, dir) =>
      // the Lee et al. ACL'22 span-dedup pressure metric: per doc, the
      // share of tokens covered by a 5-gram that occurs >1× anywhere
      // in the corpus — finds boilerplate PASSAGES whole-doc dedup
      // can't (group-by problem, no pair join)
      text.Spans.repeatedSpanCoverage(Tables.documents(s, dir), "doc_id",
          "text", k = 5)
        .orderBy(col("doc_id")),
      // same 1-based gram starts, global count, start flags widened to
      // token coverage by the identical k−1-preceding window
      """WITH b AS (SELECT doc_id, str_split(text, ' ') AS w,
        |    len(str_split(text, ' ')) AS n FROM documents),
        |g AS (SELECT doc_id, i AS pos, array_to_string(w[i:i+4], ' ') AS gr
        |  FROM b, unnest(range(1, n - 3)) AS t(i)
        |  WHERE n >= 5),
        |c AS (SELECT gr, count(*) AS c FROM g GROUP BY 1),
        |s AS (SELECT doc_id, pos FROM g JOIN c USING (gr) WHERE c.c >= 2),
        |tok AS (SELECT doc_id, n, unnest(range(1, n + 1)) AS t FROM b),
        |f AS (SELECT tok.doc_id, tok.n, tok.t,
        |    CASE WHEN s.pos IS NULL THEN 0 ELSE 1 END AS flag
        |  FROM tok LEFT JOIN s ON s.doc_id = tok.doc_id AND s.pos = tok.t),
        |cv AS (SELECT doc_id, n, flag,
        |    max(flag) OVER (PARTITION BY doc_id ORDER BY t
        |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS cov
        |  FROM f)
        |SELECT doc_id, CAST(min(n) AS BIGINT) AS n_tokens,
        |  CAST(sum(flag) AS BIGINT) AS n_repeated_starts,
        |  CAST(sum(cov) AS BIGINT) AS covered_tokens,
        |  roundStable(CAST(sum(cov) AS DOUBLE) / min(n), 6)
        |    AS repeated_share
        |FROM cv GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    Query("q361_top_spans", (s, dir) =>
      // WHAT the boilerplate is: top repeated 5-grams with occurrence
      // and doc counts — the allow/deny list before a span scrub
      text.Spans.topRepeatedSpans(Tables.documents(s, dir), "doc_id",
        "text", k = 5, topN = 20),
      """WITH b AS (SELECT doc_id, str_split(text, ' ') AS w,
        |    len(str_split(text, ' ')) AS n FROM documents),
        |g AS (SELECT doc_id, array_to_string(w[i:i+4], ' ') AS gr
        |  FROM b, unnest(range(1, n - 3)) AS t(i)
        |  WHERE n >= 5)
        |SELECT CAST(rank AS BIGINT) AS rank, gram, n_occurrences, n_docs
        |FROM (SELECT gr AS gram, count(*) AS n_occurrences,
        |    count(DISTINCT doc_id) AS n_docs,
        |    row_number() OVER (ORDER BY count(*) DESC, gr ASC) AS rank
        |  FROM g GROUP BY gr HAVING count(*) >= 2)
        |WHERE rank <= 20 ORDER BY rank""".stripMargin),

    Query("q368_url_canon", (s, dir) =>
      // crawl-side URL canonicalization (planted deterministically
      // in-query, the q81 discipline, so the oracle replays the mess):
      // case/www/default-port/fragment/tracking-param/param-order noise
      // all collapse to one canonical page key — map-only, scan speed
      text.Urls.canonicalize(plantedUrls(s, dir), col("url"))
        .select(col("doc_id"), col("url"), col("host"), col("canonical"))
        .orderBy(col("doc_id")),
      // identical plant, identical regex subset (the C33 discipline),
      // identical filter→sort→join param handling
      """WITH u AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 3 = 0 THEN 'HTTP' ELSE 'http' END
        |     || '://' ||
        |     CASE WHEN doc_id % 4 = 0 THEN 'WWW.' || upper(source)
        |       ELSE source END || '.example.com' ||
        |     CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END ||
        |     '/p/' || CAST(doc_id % 7 AS VARCHAR) ||
        |     '?utm_source=feed&b=' || CAST(doc_id % 3 AS VARCHAR)
        |     || '&a=1' ||
        |     CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM documents),
        |c AS (SELECT doc_id, url,
        |    lower(regexp_extract(url,
        |      '^([A-Za-z]+)://([^/?#]+)([^?#]*)(\?[^#]*)?(#.*)?$', 1))
        |      AS scheme,
        |    lower(regexp_extract(url,
        |      '^([A-Za-z]+)://([^/?#]+)([^?#]*)(\?[^#]*)?(#.*)?$', 2))
        |      AS rawhost,
        |    regexp_extract(url,
        |      '^([A-Za-z]+)://([^/?#]+)([^?#]*)(\?[^#]*)?(#.*)?$', 3)
        |      AS path,
        |    regexp_extract(url,
        |      '^([A-Za-z]+)://([^/?#]+)([^?#]*)(\?[^#]*)?(#.*)?$', 4)
        |      AS query
        |  FROM u),
        |h AS (SELECT doc_id, url, scheme,
        |    CASE WHEN scheme = 'http' THEN regexp_replace(
        |        regexp_replace(rawhost, '^www\.', ''), ':80$', '')
        |      WHEN scheme = 'https' THEN regexp_replace(
        |        regexp_replace(rawhost, '^www\.', ''), ':443$', '')
        |      ELSE regexp_replace(rawhost, '^www\.', '')
        |      END AS host, path, query FROM c),
        |p AS (SELECT doc_id, url, scheme, host, path,
        |    array_to_string(list_sort(list_filter(
        |      str_split(regexp_replace(query, '^\?', ''), '&'),
        |      x -> NOT (regexp_matches(x,
        |        '^(utm_[A-Za-z0-9_]+|fbclid|gclid)=') OR x = ''))), '&') AS q
        |  FROM h)
        |SELECT doc_id, url, host,
        |  scheme || '://' || host ||
        |    CASE WHEN path = '' THEN '/' ELSE path END ||
        |    CASE WHEN q = '' THEN '' ELSE '?' || q END AS canonical
        |FROM p ORDER BY doc_id""".stripMargin),

    Query("q369_host_census", (s, dir) =>
      // the per-site dedup payoff: raw URLs vs distinct canonical
      // pages per host — where crawl-frequency stats were lying
      text.Urls.hostCensus(plantedUrls(s, dir), col("url"))
        .orderBy(col("host")),
      """WITH u AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 3 = 0 THEN 'HTTP' ELSE 'http' END
        |     || '://' ||
        |     CASE WHEN doc_id % 4 = 0 THEN 'WWW.' || upper(source)
        |       ELSE source END || '.example.com' ||
        |     CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END ||
        |     '/p/' || CAST(doc_id % 7 AS VARCHAR) ||
        |     '?utm_source=feed&b=' || CAST(doc_id % 3 AS VARCHAR)
        |     || '&a=1' ||
        |     CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM documents),
        |c AS (SELECT doc_id, url,
        |    lower(regexp_extract(url,
        |      '^([A-Za-z]+)://([^/?#]+)([^?#]*)(\?[^#]*)?(#.*)?$', 1))
        |      AS scheme,
        |    lower(regexp_extract(url,
        |      '^([A-Za-z]+)://([^/?#]+)([^?#]*)(\?[^#]*)?(#.*)?$', 2))
        |      AS rawhost,
        |    regexp_extract(url,
        |      '^([A-Za-z]+)://([^/?#]+)([^?#]*)(\?[^#]*)?(#.*)?$', 3)
        |      AS path,
        |    regexp_extract(url,
        |      '^([A-Za-z]+)://([^/?#]+)([^?#]*)(\?[^#]*)?(#.*)?$', 4)
        |      AS query
        |  FROM u),
        |h AS (SELECT doc_id, scheme,
        |    CASE WHEN scheme = 'http' THEN regexp_replace(
        |        regexp_replace(rawhost, '^www\.', ''), ':80$', '')
        |      WHEN scheme = 'https' THEN regexp_replace(
        |        regexp_replace(rawhost, '^www\.', ''), ':443$', '')
        |      ELSE regexp_replace(rawhost, '^www\.', '')
        |      END AS host, path, query FROM c),
        |p AS (SELECT doc_id, scheme, host, path,
        |    array_to_string(list_sort(list_filter(
        |      str_split(regexp_replace(query, '^\?', ''), '&'),
        |      x -> NOT (regexp_matches(x,
        |        '^(utm_[A-Za-z0-9_]+|fbclid|gclid)=') OR x = ''))), '&') AS q
        |  FROM h),
        |k AS (SELECT host,
        |    scheme || '://' || host ||
        |      CASE WHEN path = '' THEN '/' ELSE path END ||
        |      CASE WHEN q = '' THEN '' ELSE '?' || q END AS canonical
        |  FROM p)
        |SELECT host, count(*) AS n_urls,
        |  count(DISTINCT canonical) AS n_pages,
        |  roundStable(1.0 - CAST(count(DISTINCT canonical) AS DOUBLE)
        |    / count(*), 6) AS dup_rate
        |FROM k GROUP BY host ORDER BY host""".stripMargin),

    Query("q378_kneser_ney", (s, dir) =>
      // the real CCNet arithmetic: interpolated Kneser-Ney bigram LM
      // score per doc (q122's add-k is the classroom stand-in) —
      // continuation-probability backoff, D = 0.75
      text.Corpus.knBigramLogProb(Tables.documents(s, dir), "doc_id",
          "text")
        .orderBy(col("doc_id")),
      // identical cell algebra: c12/c1/N1+ forward by w1, continuation
      // counts by w2, B = bigram-type count, then the interpolated-KN
      // expression tree verbatim
      """WITH d AS (SELECT doc_id, str_split(text, ' ') AS l FROM documents),
        |bgz AS (SELECT doc_id, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS z
        |        FROM d WHERE len(l) >= 2),
        |bg AS (SELECT doc_id, z[1] AS w1, z[2] AS w2 FROM bgz),
        |c12 AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c12
        |        FROM bg GROUP BY w1, w2),
        |bt AS (SELECT CAST(count(*) AS DOUBLE) AS b FROM c12),
        |c1 AS (SELECT w1, CAST(count(*) AS DOUBLE) AS c1,
        |         CAST(count(DISTINCT w2) AS DOUBLE) AS n1f
        |       FROM bg GROUP BY w1),
        |pc AS (SELECT w2, CAST(count(*) AS DOUBLE) AS n1r
        |       FROM c12 GROUP BY w2),
        |lm AS (SELECT c12.w1, c12.w2,
        |         ln((greatest(c12 - 0.75, CAST(0 AS DOUBLE))
        |           + 0.75 * n1f * (n1r / b)) / c1) AS lp
        |       FROM c12 JOIN c1 USING (w1) JOIN pc USING (w2)
        |       CROSS JOIN bt)
        |SELECT bg.doc_id, count(*) AS n_bigrams,
        |  roundStable(avg(lp), 6) AS mean_kn_logprob
        |FROM bg JOIN lm ON bg.w1 = lm.w1 AND bg.w2 = lm.w2
        |GROUP BY bg.doc_id ORDER BY doc_id""".stripMargin),

    Query("q380_kn_trigram", (s, dir) =>
      // the CCNet-class filter proper: interpolated KN TRIGRAM score
      // with per-order Chen-Goodman discounts D = n1/(n1+2n2) estimated
      // from the corpus (q378's fixed-0.75 bigram is the rung below);
      // continuation counts cascade one level down, estimated discounts
      // ride every row so the oracle recomputes them by value
      text.Corpus.knTrigramLogProb(Tables.documents(s, dir), "doc_id",
          "text")
        .orderBy(col("doc_id")),
      // the same cell algebra one order up: raw trigram counts on top,
      // continuation counts (distinct-left-context) for the middle
      // order, type-count continuation at the bottom; per-order
      // Chen-Goodman discounts n1/(n1+2n2) recomputed as scalar
      // subqueries and ALSO compared by value via the discount columns
      """WITH d AS (SELECT doc_id, str_split(text, ' ') AS l FROM documents),
        |tgz AS (SELECT doc_id, unnest(list_zip(l[1:len(l)-2],
        |          l[2:len(l)-1], l[3:len(l)])) AS z
        |        FROM d WHERE len(l) >= 3),
        |tg AS MATERIALIZED (SELECT doc_id, z[1] AS w1, z[2] AS w2, z[3] AS w3 FROM tgz),
        |c3 AS MATERIALIZED (SELECT w1, w2, w3, CAST(count(*) AS DOUBLE) AS c3
        |       FROM tg GROUP BY 1, 2, 3),
        |dhi AS (SELECT CASE WHEN sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) = 0
        |          THEN 0.75
        |          ELSE CAST(sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |            / (sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END)
        |               + 2.0 * sum(CASE WHEN c3 = 2 THEN 1 ELSE 0 END)) END AS dh
        |        FROM c3),
        |cp AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS cp,
        |         CAST(count(DISTINCT w3) AS DOUBLE) AS n1f3
        |       FROM tg GROUP BY 1, 2),
        |cont2 AS MATERIALIZED (SELECT w2, w3, CAST(count(*) AS DOUBLE) AS n2c
        |          FROM c3 GROUP BY 1, 2),
        |dmid AS (SELECT CASE WHEN sum(CASE WHEN n2c = 1 THEN 1 ELSE 0 END) = 0
        |           THEN 0.75
        |           ELSE CAST(sum(CASE WHEN n2c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / (sum(CASE WHEN n2c = 1 THEN 1 ELSE 0 END)
        |                + 2.0 * sum(CASE WHEN n2c = 2 THEN 1 ELSE 0 END)) END AS dm
        |         FROM cont2),
        |mid AS (SELECT w2, sum(n2c) AS den2,
        |          CAST(count(*) AS DOUBLE) AS n1f2
        |        FROM cont2 GROUP BY 1),
        |uc AS (SELECT w3, CAST(count(*) AS DOUBLE) AS n1r
        |       FROM cont2 GROUP BY 1),
        |bt AS (SELECT CAST(count(*) AS DOUBLE) AS b FROM cont2),
        |lp AS (SELECT tg.doc_id,
        |         ln((greatest(c3.c3 - dh, CAST(0 AS DOUBLE))
        |           + dh * cp.n1f3
        |             * ((greatest(cont2.n2c - dm, CAST(0 AS DOUBLE))
        |                + dm * mid.n1f2 * (uc.n1r / bt.b)) / mid.den2))
        |           / cp.cp) AS lp
        |       FROM tg JOIN c3 USING (w1, w2, w3) JOIN cp USING (w1, w2)
        |         JOIN cont2 USING (w2, w3) JOIN mid USING (w2)
        |         JOIN uc USING (w3)
        |         CROSS JOIN dhi CROSS JOIN dmid CROSS JOIN bt)
        |SELECT doc_id, count(*) AS n_trigrams,
        |  roundStable(avg(lp), 6) AS mean_kn_logprob,
        |  roundStable((SELECT dh FROM dhi), 6) AS discount_hi,
        |  roundStable((SELECT dm FROM dmid), 6) AS discount_mid
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    Query("q391_kn_fourgram", (s, dir) =>
      // the q380 cascade one order up, built MEASURED-FIRST (r15): the
      // predicted no-singleton cliff at n=4 does not exist on these
      // corpora (n1 = 22.7k/172k at sf0.01/0.1, estimated D4 ~ .89/.72),
      // so all three discounts are genuinely estimated; continuation
      // tables derive level-from-level (Chen-Goodman), discounts ride
      // every row by value
      text.Corpus.knFourgramLogProb(Tables.documents(s, dir), "doc_id",
          "text")
        .orderBy(col("doc_id")),
      // the q380 replica one order up: raw fourgram counts on top, then
      // level-from-level continuation tables (cont3 from c4 types,
      // cont2 from cont3 types), per-order Chen-Goodman discounts as
      // scalar subqueries, compared by value via the discount columns
      """WITH d AS (SELECT doc_id, str_split(text, ' ') AS l FROM documents),
        |qgz AS (SELECT doc_id, unnest(list_zip(l[1:len(l)-3],
        |          l[2:len(l)-2], l[3:len(l)-1], l[4:len(l)])) AS z
        |        FROM d WHERE len(l) >= 4),
        |qg AS MATERIALIZED (SELECT doc_id, z[1] AS w1, z[2] AS w2,
        |        z[3] AS w3, z[4] AS w4 FROM qgz),
        |c4 AS MATERIALIZED (SELECT w1, w2, w3, w4,
        |        CAST(count(*) AS DOUBLE) AS c4
        |      FROM qg GROUP BY 1, 2, 3, 4),
        |dhi AS (SELECT CASE WHEN sum(CASE WHEN c4 = 1 THEN 1 ELSE 0 END) = 0
        |          THEN 0.75
        |          ELSE CAST(sum(CASE WHEN c4 = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |            / (sum(CASE WHEN c4 = 1 THEN 1 ELSE 0 END)
        |               + 2.0 * sum(CASE WHEN c4 = 2 THEN 1 ELSE 0 END)) END AS dh
        |        FROM c4),
        |cp3 AS (SELECT w1, w2, w3, CAST(count(*) AS DOUBLE) AS cp3,
        |          CAST(count(DISTINCT w4) AS DOUBLE) AS n1f4
        |        FROM qg GROUP BY 1, 2, 3),
        |cont3 AS MATERIALIZED (SELECT w2, w3, w4,
        |          CAST(count(*) AS DOUBLE) AS n3c
        |        FROM c4 GROUP BY 1, 2, 3),
        |dm3x AS (SELECT CASE WHEN sum(CASE WHEN n3c = 1 THEN 1 ELSE 0 END) = 0
        |           THEN 0.75
        |           ELSE CAST(sum(CASE WHEN n3c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / (sum(CASE WHEN n3c = 1 THEN 1 ELSE 0 END)
        |                + 2.0 * sum(CASE WHEN n3c = 2 THEN 1 ELSE 0 END)) END AS dm3
        |         FROM cont3),
        |mid3 AS (SELECT w2, w3, sum(n3c) AS den3,
        |           CAST(count(*) AS DOUBLE) AS n1f3c
        |         FROM cont3 GROUP BY 1, 2),
        |cont2 AS MATERIALIZED (SELECT w3, w4,
        |          CAST(count(*) AS DOUBLE) AS n2c
        |        FROM cont3 GROUP BY 1, 2),
        |dm2x AS (SELECT CASE WHEN sum(CASE WHEN n2c = 1 THEN 1 ELSE 0 END) = 0
        |           THEN 0.75
        |           ELSE CAST(sum(CASE WHEN n2c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / (sum(CASE WHEN n2c = 1 THEN 1 ELSE 0 END)
        |                + 2.0 * sum(CASE WHEN n2c = 2 THEN 1 ELSE 0 END)) END AS dm2
        |         FROM cont2),
        |mid2 AS (SELECT w3, sum(n2c) AS den2,
        |           CAST(count(*) AS DOUBLE) AS n1f2
        |         FROM cont2 GROUP BY 1),
        |uc AS (SELECT w4, CAST(count(*) AS DOUBLE) AS n1r
        |       FROM cont2 GROUP BY 1),
        |bt AS (SELECT CAST(count(*) AS DOUBLE) AS b FROM cont2),
        |lp AS (SELECT qg.doc_id,
        |         ln((greatest(c4.c4 - dh, CAST(0 AS DOUBLE))
        |           + dh * cp3.n1f4
        |             * ((greatest(cont3.n3c - dm3, CAST(0 AS DOUBLE))
        |                + dm3 * mid3.n1f3c
        |                  * ((greatest(cont2.n2c - dm2, CAST(0 AS DOUBLE))
        |                     + dm2 * mid2.n1f2 * (uc.n1r / bt.b))
        |                    / mid2.den2))
        |               / mid3.den3))
        |           / cp3.cp3) AS lp
        |       FROM qg JOIN c4 USING (w1, w2, w3, w4)
        |         JOIN cp3 USING (w1, w2, w3)
        |         JOIN cont3 USING (w2, w3, w4) JOIN mid3 USING (w2, w3)
        |         JOIN cont2 USING (w3, w4) JOIN mid2 USING (w3)
        |         JOIN uc USING (w4)
        |         CROSS JOIN dhi CROSS JOIN dm3x CROSS JOIN dm2x
        |         CROSS JOIN bt)
        |SELECT doc_id, count(*) AS n_fourgrams,
        |  roundStable(avg(lp), 6) AS mean_kn_logprob,
        |  roundStable((SELECT dh FROM dhi), 6) AS discount_hi,
        |  roundStable((SELECT dm3 FROM dm3x), 6) AS discount_mid3,
        |  roundStable((SELECT dm2 FROM dm2x), 6) AS discount_mid2
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    Query("q270_readability", (s, dir) =>
      // the structural readability screen: Flesch ease + FK grade
      // from pure regexp counts — run-on machine text scores low,
      // listy fragments score absurdly high; both are quality flags
      Tables.documents(s, dir)
        .select(col("doc_id"),
          text.TextStats.wsTokenCount(col("text")).as("n_words"),
          text.TextStats.sentenceCount(col("text")).as("n_sentences"),
          text.TextStats.syllableCount(col("text")).as("n_syllables"),
          roundStable(text.TextStats.fleschEase(col("text")), 6)
            .as("flesch"),
          roundStable(text.TextStats.fkGrade(col("text")), 6)
            .as("fk_grade"))
        .orderBy(col("doc_id")),
      // same regexp counts: sentence RUNS, vowel-group syllables
      """WITH t AS (SELECT doc_id,
        |    CAST(len(str_split(text, ' ')) AS DOUBLE) AS w,
        |    CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
        |      AS DOUBLE) AS s,
        |    CAST(greatest(1, len(regexp_extract_all(lower(text),
        |      '[aeiouy]+'))) AS DOUBLE) AS sy
        |  FROM documents)
        |SELECT doc_id, CAST(w AS BIGINT) AS n_words,
        |  CAST(s AS BIGINT) AS n_sentences,
        |  CAST(sy AS BIGINT) AS n_syllables,
        |  roundStable(206.835 - 1.015 * (w / s) - 84.6 * (sy / w), 6)
        |    AS flesch,
        |  roundStable(0.39 * (w / s) + 11.8 * (sy / w) - 15.59, 6)
        |    AS fk_grade
        |FROM t ORDER BY doc_id""".stripMargin),

    Query("q271_log_odds", (s, dir) =>
      // WHICH words distinguish the English side of the corpus —
      // Monroe's prior-shrunk log-odds z, comparable across the
      // whole frequency spectrum (raw ratios explode on rare words)
      text.Corpus.logOddsWords(Tables.documents(s, dir),
          isA = col("lang") === "en", textCol = "text")
        .orderBy(col("word")),
      // same conditional counts, same prior-shrunk delta/sigma
      """WITH t AS (SELECT (lang = 'en') AS a,
        |    unnest(str_split(text, ' ')) AS word FROM documents),
        |c AS (SELECT word,
        |    sum(CASE WHEN a THEN 1 ELSE 0 END) AS y_a,
        |    sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS y_b
        |  FROM t WHERE word <> '' GROUP BY 1),
        |w AS (SELECT word, y_a, y_b,
        |    CAST(sum(y_a) OVER () AS DOUBLE) AS na,
        |    CAST(sum(y_b) OVER () AS DOUBLE) AS nb
        |  FROM c),
        |x AS (SELECT word, y_a, y_b, na, nb,
        |    CAST(y_a AS DOUBLE) AS ya, CAST(y_b AS DOUBLE) AS yb,
        |    500.0 * (CAST(y_a AS DOUBLE) + CAST(y_b AS DOUBLE))
        |      / (na + nb) AS aw
        |  FROM w WHERE y_a + y_b >= 20),
        |z AS (SELECT word, y_a, y_b,
        |    ln((ya + aw) / (na + 500.0 - ya - aw))
        |      - ln((yb + aw) / (nb + 500.0 - yb - aw)) AS delta,
        |    sqrt(1.0 / (ya + aw) + 1.0 / (yb + aw)) AS sigma
        |  FROM x)
        |SELECT word, CAST(y_a AS BIGINT) AS y_a,
        |  CAST(y_b AS BIGINT) AS y_b,
        |  roundStable(delta, 6) AS log_odds,
        |  roundStable(delta / sigma, 6) AS z
        |FROM z ORDER BY word""".stripMargin),

    Query("q120_collocations", (s, dir) =>
      // phrase mining: PMI/NPMI of adjacent token pairs, bigrams built
      // in-array (zero window), unigram model joined back BY TOKEN
      text.Corpus.collocations(Tables.documents(s, dir), "doc_id", "text",
          minCount = 5)
        .orderBy(col("w1"), col("w2")),
      // bigrams via list_zip of the two token-array slices (same
      // in-array construction as the Spark side — no window)
      """WITH tk AS (SELECT unnest(str_split(text, ' ')) AS tok FROM documents),
        |uni AS (SELECT tok, CAST(count(*) AS DOUBLE) AS c FROM tk GROUP BY tok),
        |tot AS (SELECT sum(c) AS t FROM uni),
        |d AS (SELECT doc_id, str_split(text, ' ') AS l FROM documents),
        |bgz AS (SELECT unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS z
        |        FROM d WHERE len(l) >= 2),
        |bg AS (SELECT z[1] AS w1, z[2] AS w2 FROM bgz),
        |big AS (SELECT w1, w2, count(*) AS n FROM bg GROUP BY w1, w2),
        |nb AS (SELECT CAST(sum(n) AS DOUBLE) AS b FROM big)
        |SELECT big.w1, big.w2, big.n,
        |  roundStable(ln(n / b / (u1.c / t) / (u2.c / t)), 6) AS pmi,
        |  roundStable(ln(n / b / (u1.c / t) / (u2.c / t)) / -ln(n / b), 6)
        |    AS npmi
        |FROM big
        |JOIN uni u1 ON big.w1 = u1.tok
        |JOIN uni u2 ON big.w2 = u2.tok
        |CROSS JOIN tot CROSS JOIN nb
        |WHERE n >= 5
        |ORDER BY w1, w2""".stripMargin),

    Query("q122_bigram_logprob", (s, dir) =>
      // the CCNet-style fluency filter, one order up from q97: add-1
      // smoothed bigram LM score per doc, model = the corpus, joined by
      // pair key — never broadcast
      text.Corpus.bigramLogProb(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")),
      """WITH d AS (SELECT doc_id, str_split(text, ' ') AS l FROM documents),
        |v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vocab
        |      FROM (SELECT unnest(str_split(text, ' ')) AS tok FROM documents)),
        |bgz AS (SELECT doc_id, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS z
        |        FROM d WHERE len(l) >= 2),
        |bg AS (SELECT doc_id, z[1] AS w1, z[2] AS w2 FROM bgz),
        |c12 AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c12
        |        FROM bg GROUP BY w1, w2),
        |c1 AS (SELECT w1, CAST(count(*) AS DOUBLE) AS c1 FROM bg GROUP BY w1),
        |lm AS (SELECT c12.w1, c12.w2, ln((c12 + 1.0) / (c1 + vocab)) AS lp
        |       FROM c12 JOIN c1 USING (w1) CROSS JOIN v)
        |SELECT bg.doc_id, count(*) AS n_bigrams,
        |  roundStable(avg(lp), 6) AS mean_logprob
        |FROM bg JOIN lm ON bg.w1 = lm.w1 AND bg.w2 = lm.w2
        |GROUP BY bg.doc_id ORDER BY doc_id""".stripMargin),

    Query("q90_substring_dup", (s, dir) =>
      // cross-document repeated-substring spans (span-level dedup): the
      // registered plan is the SCALE path — xxhash64 shingle keys on the
      // heavy exchange — against a text-keyed DuckDB recompute; equal
      // unless a 2⁻⁶⁴ collision lands, and deterministically so
      text.Corpus.substringSpans(Tables.documents(s, dir), "doc_id", "text",
        k = 8, minDocs = 2, hashKeys = true)
        .orderBy(col("doc_id"), col("span_start")),
      """WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
        |p AS (SELECT doc_id, toks,
        |    unnest(range(0, greatest(len(toks) - 7, 0))) AS pos FROM t),
        |s AS (SELECT doc_id, pos,
        |    array_to_string(toks[pos+1:pos+8], ' ') AS sh FROM p),
        |dup AS (SELECT sh FROM s GROUP BY sh HAVING count(DISTINCT doc_id) >= 2),
        |d AS (SELECT s.doc_id, s.pos FROM s JOIN dup USING (sh)),
        |g AS (SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM d)
        |SELECT doc_id, min(pos) AS span_start, max(pos) AS span_end,
        |  max(pos) - min(pos) + 8 AS tok_len
        |FROM g GROUP BY doc_id, grp
        |ORDER BY doc_id, span_start""".stripMargin),

    Query("q94_quality_prank", (s, dir) => {
      // per-domain quantile quality filter (the curation upgrade of
      // q61's global threshold): drop each source's bottom 20% by
      // quality — rank-space, so a uniformly low-quality domain keeps
      // its best docs instead of losing everything. percent_rank orders
      // by the ROUNDED score + doc_id: deterministic under last-ulp
      // cross-engine drift and quality ties. One keyed window shuffle.
      import org.apache.spark.sql.expressions.Window
      val stops = Seq("the", "a")
      val scored = Tables.documents(s, dir).select(col("doc_id"), col("source"),
        roundStable(TextStats.qualityScore(col("text"), stops), 6).as("quality"))
      val w = Window.partitionBy(col("source")).orderBy(col("quality"), col("doc_id"))
      scored.withColumn("prank", roundStable(percent_rank().over(w), 6))
        .filter(col("prank") >= 0.2)
        .orderBy(col("doc_id"))
    },
      """WITH t AS (SELECT doc_id, source, text, str_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, source,
        |  roundStable(0.5 * least(1.0, CAST(len(toks) AS DOUBLE) / 50.0)
        |    + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / CAST(length(text) AS DOUBLE))
        |    + 0.2 * (CAST(len(list_filter(toks, x -> x IN ('the','a'))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)), 6) AS quality
        |  FROM t),
        |p AS (SELECT doc_id, source, quality,
        |  roundStable(percent_rank() OVER (PARTITION BY source ORDER BY quality, doc_id), 6) AS prank
        |  FROM s)
        |SELECT doc_id, source, quality, prank FROM p
        |WHERE prank >= 0.2 ORDER BY doc_id""".stripMargin),

    Query("q97_unigram_logprob", (s, dir) =>
      // LM-quality signal (the cheap CCNet perplexity stand-in): mean
      // unigram log-probability per doc, model = the corpus itself —
      // unigram table joined BY TOKEN (vocab never broadcasts at scale)
      text.Corpus.unigramLogProb(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")),
      """WITH tk AS (SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT tok, CAST(count(*) AS DOUBLE) AS tf FROM tk GROUP BY tok),
        |tot AS (SELECT sum(tf) AS total FROM tf),
        |lm AS (SELECT tok, ln(tf / (SELECT total FROM tot)) AS lp FROM tf)
        |SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
        |  roundStable(avg(lm.lp), 6) AS mean_logprob
        |FROM tk JOIN lm USING (tok)
        |GROUP BY tk.doc_id ORDER BY doc_id""".stripMargin),

    Query("q85_weighted_sample", (s, dir) =>
      // resample the corpus to the temperature mix (applies q75's
      // weights): per-domain keep probability from the weight table,
      // selection by the q82 multiplicative hash — broadcast + map-only,
      // exact row set replayed by the oracle
      text.Corpus.sampleToMix(Tables.documents(s, dir), "lang", "doc_id", "text",
        alpha = 0.5, targetFrac = 0.5)
        .orderBy(col("doc_id")),
      """WITH g AS (SELECT lang, count(*) AS n_docs,
        |             sum(len(str_split(text,' '))) AS n_toks
        |           FROM documents GROUP BY lang),
        |w AS (SELECT lang, n_docs,
        |        pow(CAST(n_toks AS DOUBLE)/sum(n_toks) OVER (), 0.5) AS raw_w,
        |        sum(n_docs) OVER () AS n_total
        |      FROM g),
        |p AS (SELECT lang,
        |        least(1.0, 0.5 * n_total * roundStable(raw_w/sum(raw_w) OVER (), 6) / n_docs) AS p_keep
        |      FROM w)
        |SELECT d.doc_id, d.lang, roundStable(p.p_keep, 6) AS p_keep
        |FROM documents d JOIN p ON d.lang = p.lang
        |WHERE CAST(((d.doc_id % 2147483648) * 2654435761) % 2147483648 AS DOUBLE) / 2147483648.0 < p.p_keep
        |ORDER BY d.doc_id""".stripMargin),

    Query("q83_curation", (s, dir) => {
      // the end-to-end corpus-curation composition a training-data user
      // actually runs, each stage an already-gated operator: normalize
      // (q60's shape) → quality + length gate (q61) → exact bag-of-words
      // dedup, min-id survivor (q33's fingerprint) → deterministic split
      // (q82's hash). One narrow pipeline + one fingerprint aggregation.
      val stops = Seq("the", "a")
      val norm = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        regexp_replace(lower(col("text")), "  +", " ").as("t"))
      val gated = norm
        .withColumn("quality", TextStats.qualityScore(col("t"), stops))
        .withColumn("n_toks", TextStats.wsTokenCount(col("t")))
        .filter(col("quality") >= 0.4 && col("n_toks").between(10, 200))
        .withColumn("fp", TextStats.fingerprint(col("t")))
      val survivors = gated.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      gated.join(survivors, Seq("fp", "doc_id"), "left_semi")
        .withColumn("h", text.Corpus.idHash(col("doc_id")))
        .select(col("doc_id"), col("lang"),
          roundStable(col("quality"), 6).as("quality"),
          col("n_toks"),
          when(col("h") % 10 < 8, "train").when(col("h") % 10 < 9, "val")
            .otherwise("test").as("split"))
        .orderBy(col("doc_id"))
    },
      """WITH n AS (SELECT doc_id, lang,
        |    regexp_replace(lower(text), '  +', ' ', 'g') AS t FROM documents),
        |s AS (SELECT doc_id, lang, t, str_split(t, ' ') AS toks FROM n),
        |q AS (SELECT doc_id, lang, t,
        |  0.5 * least(1.0, CAST(len(toks) AS DOUBLE) / 50.0)
        |   + 0.3 * (1.0 - CAST(len(regexp_extract_all(t, '[.,!?;:]')) AS DOUBLE) / CAST(length(t) AS DOUBLE))
        |   + 0.2 * (CAST(len(list_filter(toks, x -> x IN ('the','a'))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)) AS quality,
        |  CAST(len(toks) AS BIGINT) AS n_toks,
        |  md5(array_to_string(list_sort(list_distinct(str_split(lower(t), ' '))), ' ')) AS fp
        | FROM s),
        |f AS (SELECT * FROM q WHERE quality >= 0.4 AND n_toks BETWEEN 10 AND 200),
        |m AS (SELECT fp, min(doc_id) AS doc_id FROM f GROUP BY fp)
        |SELECT f.doc_id, f.lang, roundStable(f.quality, 6) AS quality, f.n_toks,
        |  CASE WHEN ((f.doc_id % 2147483648) * 2654435761) % 2147483648 % 10 < 8 THEN 'train'
        |       WHEN ((f.doc_id % 2147483648) * 2654435761) % 2147483648 % 10 < 9 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM f JOIN m ON f.fp = m.fp AND f.doc_id = m.doc_id
        |ORDER BY f.doc_id""".stripMargin),

    Query("q81_redact_pii", (s, dir) => {
      // C4/CCNet-style PII scrub. The corpus is synthetic word salad, so
      // PII is PLANTED deterministically first (email on every 10th doc,
      // ip on every 17th, phone on every 23rd) — the redactor then has
      // real work whose expected counts the oracle recomputes
      val planted = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 10 === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@example.com"))).otherwise(lit("")),
          when(col("doc_id") % 17 === 0,
            concat(lit(" host 10.0."), pmod(col("doc_id"), lit(256L)), lit(".1"))).otherwise(lit("")),
          when(col("doc_id") % 23 === 0,
            concat(lit(" tel 555-01"), pmod(col("doc_id"), lit(100L)), lit("-4433"))).otherwise(lit("")))
          .as("text"))
      text.Corpus.redactPii(planted, "doc_id", "text")
        .withColumn("clean_len", length(col("clean_text")).cast("long"))
        .orderBy(col("doc_id"))
    },
      """WITH planted AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 10 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
        |  CASE WHEN doc_id % 17 = 0 THEN ' host 10.0.' || (doc_id % 256) || '.1' ELSE '' END ||
        |  CASE WHEN doc_id % 23 = 0 THEN ' tel 555-01' || (doc_id % 100) || '-4433' ELSE '' END
        |  AS text FROM documents),
        |r AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[a-z0-9.]+@[a-z0-9.]+', '<email>', 'g'),
        |    '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+', '<ip>', 'g'),
        |    '[0-9][0-9-]{6,}[0-9]', '<phone>', 'g') AS clean_text,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9.]+@[a-z0-9.]+'))
        |     + len(regexp_extract_all(text, '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+'))
        |     + len(regexp_extract_all(text, '[0-9][0-9-]{6,}[0-9]')) AS BIGINT) AS n_redactions
        | FROM planted)
        |SELECT doc_id, clean_text, n_redactions,
        |  CAST(length(clean_text) AS BIGINT) AS clean_len
        |FROM r ORDER BY doc_id""".stripMargin),

    Query("q82_train_split", (s, dir) =>
      // deterministic train/val/test split + pseudo-random shuffle key
      // from a multiplicative hash — map-only, RNG-free, engine-portable
      text.Corpus.trainSplit(Tables.documents(s, dir), "doc_id")
        .orderBy(col("doc_id")),
      """SELECT doc_id,
        |  ((doc_id % 2147483648) * 2654435761) % 2147483648 AS h,
        |  CASE WHEN ((doc_id % 2147483648) * 2654435761) % 2147483648 % 10 < 8 THEN 'train'
        |       WHEN ((doc_id % 2147483648) * 2654435761) % 2147483648 % 10 < 9 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin),

    Query("q80_heavy_hitters", (s, dir) =>
      // sketch-then-verify exact top-k tokens: Misra-Gries candidates in
      // one pass (bounded state), exact counts for candidates only in a
      // second. capacity 256 >> vocabulary here, so the result is exact
      // (the eviction path is spec-covered on planted skew)
      text.Corpus.topKTokens(Tables.documents(s, dir), "text", k = 20, capacity = 256)
        .orderBy(col("cnt").desc, col("tok")),
      """SELECT tok, count(*) AS cnt
        |FROM (SELECT unnest(str_split(text, ' ')) AS tok FROM documents)
        |GROUP BY tok ORDER BY cnt DESC, tok LIMIT 20""".stripMargin),

    Query("q78_pack_greedy", (s, dir) =>
      // greedy sequence packing into 256-token bins per lang, doc_id
      // order: secondary-sort mapPartitions fold (the one inherently
      // sequential-per-group op); oracle is a recursive-CTE replay of
      // the same fold
      text.Corpus.packGreedy(Tables.documents(s, dir), "lang", "doc_id", "text",
        capacity = 256L)
        .orderBy(col("lang"), col("doc_id")),
      """WITH RECURSIVE t AS (SELECT lang, doc_id,
        |    len(str_split(text,' ')) AS n_toks FROM documents),
        |o AS (SELECT lang, doc_id, n_toks,
        |        row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |      FROM t),
        |p AS (
        |  SELECT lang, doc_id, n_toks, rn, 0 AS bin_id, n_toks AS fill
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.lang, o.doc_id, o.n_toks, o.rn,
        |    CASE WHEN p.fill + o.n_toks > 256 THEN p.bin_id + 1 ELSE p.bin_id END,
        |    CASE WHEN p.fill + o.n_toks > 256 THEN o.n_toks ELSE p.fill + o.n_toks END
        |  FROM p JOIN o ON o.lang = p.lang AND o.rn = p.rn + 1)
        |SELECT lang, doc_id, CAST(n_toks AS BIGINT) AS n_toks,
        |  CAST(bin_id AS BIGINT) AS bin_id, CAST(fill AS BIGINT) AS bin_fill
        |FROM p ORDER BY lang, doc_id""".stripMargin),
  )
}
