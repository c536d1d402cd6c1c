package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops._
import graft.queries.Shared._

/** Corpus text analysis (ops TextAnalysis): tokenization, language
  * and quality scoring, n-gram statistics, keyword extraction and
  * lexical retrieval. */
object TextQueries {
  val all: Seq[Q] = Seq(
    // text: token count
    Q("q_text_tokens", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").alias("n_tokens"))
        .orderBy("doc_id"),
      "SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens " +
        "FROM documents ORDER BY doc_id"),

    // text: quality features
    Q("q_text_quality", (s, d) => {
      val f = TextAnalysis.qualityFeatures(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          f.getField("n_chars").cast("long").alias("n_chars"),
          f.getField("n_tokens").cast("long").alias("n_tokens"),
          f.getField("mean_tok_len").alias("mean_tok_len"),
          f.getField("stopword_ratio").alias("stopword_ratio"))
        .orderBy("doc_id")
    },
      "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
        "round(CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')), 6) AS mean_tok_len, " +
        s"round(CAST(len(list_filter(string_split(lower(text), ' '), x -> x IN $EnStop)) AS DOUBLE) " +
        "/ len(string_split(text, ' ')), 6) AS stopword_ratio " +
        "FROM documents ORDER BY doc_id"),

    // text: Gopher repetition signals — duplicate-line fraction and
    // top-2-gram character fraction, over text with planted boilerplate
    // (every third doc gets its first 40 chars appended twice as repeat
    // "lines", the nav-bar/cookie-banner shape these filters exist for)
    Q("q_quality_repetition", (s, d) => {
      val line1 = substring(col("text"), 1, 40)
      val dirty = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit("\n"), line1, lit("\n"), line1))
        .otherwise(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.dupLineFraction(dirty).alias("dup_line_ratio"),
          TextAnalysis.topNgramCharFraction(dirty, 2).alias("top2_char_ratio"))
        .orderBy("doc_id")
    },
      s"WITH t AS (SELECT doc_id, $DirtyText AS tx FROM documents), " +
        "a AS (SELECT doc_id, tx, string_split(tx, chr(10)) AS lines, " +
        "string_split(tx, ' ') AS toks FROM t), " +
        "g AS (SELECT doc_id, tx, lines, " +
        "list_transform(range(0, greatest(len(toks) - 2, 0) + 1), " +
        "i -> array_to_string(toks[i+1:i+2], ' ')) AS grams FROM a) " +
        "SELECT doc_id, " +
        "round(CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines), 6) AS dup_line_ratio, " +
        "round(CAST(list_max(list_transform(list_distinct(grams), " +
        "gg -> length(gg) * len(list_filter(grams, x -> x = gg)))) AS DOUBLE) / length(tx), 6) AS top2_char_ratio " +
        "FROM g ORDER BY doc_id"),

    // text: Gopher-style quality keep/drop gate, repetition filters ACTIVE
    // (dup-line ≤ 0.2 kills the planted boilerplate docs at 1/3 dup lines;
    // top-2-gram ≤ 0.2 kills keyword stuffing)
    Q("q_quality_filter", (s, d) => {
      val line1 = substring(col("text"), 1, 40)
      val dirty = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit("\n"), line1, lit("\n"), line1))
        .otherwise(col("text"))
      Tables.documents(s, d)
        .filter(TextAnalysis.qualityKeep(dirty, minTokens = 8,
          maxTokens = 100000, minStopRatio = 0.01,
          maxDupLineRatio = 0.2, maxTopNgramCharRatio = 0.2))
        .select("doc_id", "lang").orderBy("doc_id")
    },
      s"WITH t AS (SELECT doc_id, lang, $DirtyText AS tx FROM documents), " +
        "a AS (SELECT doc_id, lang, tx, string_split(tx, chr(10)) AS lines, " +
        "string_split(tx, ' ') AS toks FROM t), " +
        "g AS (SELECT doc_id, lang, tx, lines, toks, " +
        "list_transform(range(0, greatest(len(toks) - 2, 0) + 1), " +
        "i -> array_to_string(toks[i+1:i+2], ' ')) AS grams FROM a), " +
        "f AS (SELECT doc_id, lang, len(toks) AS n_tok, " +
        s"round(CAST(len(list_filter(string_split(lower(tx), ' '), x -> x IN $EnStop)) AS DOUBLE) " +
        "/ len(toks), 6) AS stop_ratio, " +
        "round(CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines), 6) AS dup_ratio, " +
        "round(CAST(list_max(list_transform(list_distinct(grams), " +
        "gg -> length(gg) * len(list_filter(grams, x -> x = gg)))) AS DOUBLE) / length(tx), 6) AS top2_ratio " +
        "FROM g) " +
        "SELECT doc_id, lang FROM f " +
        "WHERE n_tok BETWEEN 8 AND 100000 AND stop_ratio >= 0.01 " +
        "AND dup_ratio <= 0.2 AND top2_ratio <= 0.2 ORDER BY doc_id"),

    // text: language-ID heuristic
    Q("q_lang_id", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.langId(col("text")).alias("lang_guess"))
        .orderBy("doc_id"),
      "WITH s AS (SELECT doc_id, lang, " +
        s"CAST(len(list_filter(string_split(lower(text), ' '), x -> x IN $EnStop)) AS BIGINT) AS n_en, " +
        s"CAST(len(list_filter(string_split(lower(text), ' '), x -> x IN $DeStop)) AS BIGINT) AS n_de, " +
        s"CAST(len(list_filter(string_split(lower(text), ' '), x -> x IN $FrStop)) AS BIGINT) AS n_fr, " +
        s"CAST(len(list_filter(string_split(lower(text), ' '), x -> x IN $EsStop)) AS BIGINT) AS n_es " +
        "FROM documents) " +
        "SELECT doc_id, lang, CASE " +
        "WHEN n_en > 0 AND n_en = greatest(n_en, n_de, n_fr, n_es) THEN 'en' " +
        "WHEN n_de > 0 AND n_de = greatest(n_en, n_de, n_fr, n_es) THEN 'de' " +
        "WHEN n_fr > 0 AND n_fr = greatest(n_en, n_de, n_fr, n_es) THEN 'fr' " +
        "WHEN n_es > 0 AND n_es = greatest(n_en, n_de, n_fr, n_es) THEN 'es' " +
        "ELSE 'und' END AS lang_guess FROM s ORDER BY doc_id"),

    // eval: language-ID confusion matrix — labeled lang vs classifier
    // guess with counts (the classifier-eval table); one grouped pass
    Q("q_lang_confusion", (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang"), TextAnalysis.langId(col("text")).alias("lang_guess"))
        .agg(count(lit(1)).alias("n"))
        .orderBy("lang", "lang_guess"),
      "WITH s AS (SELECT doc_id, lang, " +
        s"CAST(len(list_filter(string_split(lower(text), ' '), x -> x IN $EnStop)) AS BIGINT) AS n_en, " +
        s"CAST(len(list_filter(string_split(lower(text), ' '), x -> x IN $DeStop)) AS BIGINT) AS n_de, " +
        s"CAST(len(list_filter(string_split(lower(text), ' '), x -> x IN $FrStop)) AS BIGINT) AS n_fr, " +
        s"CAST(len(list_filter(string_split(lower(text), ' '), x -> x IN $EsStop)) AS BIGINT) AS n_es " +
        "FROM documents) " +
        "SELECT lang, CASE " +
        "WHEN n_en > 0 AND n_en = greatest(n_en, n_de, n_fr, n_es) THEN 'en' " +
        "WHEN n_de > 0 AND n_de = greatest(n_en, n_de, n_fr, n_es) THEN 'de' " +
        "WHEN n_fr > 0 AND n_fr = greatest(n_en, n_de, n_fr, n_es) THEN 'fr' " +
        "WHEN n_es > 0 AND n_es = greatest(n_en, n_de, n_fr, n_es) THEN 'es' " +
        "ELSE 'und' END AS lang_guess, count(*) AS n FROM s " +
        "GROUP BY 1, 2 ORDER BY lang, lang_guess"),

    // text: tokenizer-compression report — chars per whitespace token by
    // source (the bytes/token dataset-card figure that says how far a
    // token budget stretches on each domain); one grouped pass
    Q("q_token_compression", (s, d) =>
      Tables.documents(s, d)
        .groupBy("source")
        .agg(count(lit(1)).alias("n_docs"),
          sum(length(col("text")).cast("long")).alias("n_chars"),
          sum(size(split(col("text"), " ")).cast("long")).alias("n_tokens"))
        .withColumn("chars_per_token",
          round(col("n_chars").cast("double") / col("n_tokens"), 6))
        .orderBy("source"),
      "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(length(text)) AS BIGINT) AS n_chars, " +
        "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens, " +
        "round(CAST(sum(length(text)) AS DOUBLE) / sum(len(string_split(text, ' '))), 6) " +
        "AS chars_per_token FROM documents GROUP BY source ORDER BY source"),

    // text: one-row corpus report (the "dataset card" numbers a corpus
    // release ships with) — all counts in ONE aggregation pass
    Q("q_corpus_report", (s, d) =>
      Tables.documents(s, d).agg(
        count(lit(1)).alias("n_docs"),
        sum(TextAnalysis.tokenCount(col("text")).cast("long")).alias("total_tokens"),
        round(avg(length(col("text"))), 6).alias("mean_chars"),
        countDistinct(TextAnalysis.fingerprint(col("text"))).alias("n_unique_texts"),
        countDistinct(col("source")).alias("n_sources"),
        sum(when(TextAnalysis.langId(col("text")) === "en", 1L).otherwise(0L))
          .alias("n_en")),
      "WITH lx AS (SELECT doc_id, text, source, " +
        s"len(list_filter(string_split(lower(text), ' '), x -> x IN $EnStop)) AS n_en, " +
        s"len(list_filter(string_split(lower(text), ' '), x -> x IN $DeStop)) AS n_de, " +
        s"len(list_filter(string_split(lower(text), ' '), x -> x IN $FrStop)) AS n_fr, " +
        s"len(list_filter(string_split(lower(text), ' '), x -> x IN $EsStop)) AS n_es " +
        "FROM documents) " +
        "SELECT count(*) AS n_docs, " +
        "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens, " +
        "round(avg(length(text)), 6) AS mean_chars, " +
        "count(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS n_unique_texts, " +
        "count(DISTINCT source) AS n_sources, " +
        "CAST(sum(CASE WHEN n_en > 0 AND n_en = greatest(n_en, n_de, n_fr, n_es) " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_en FROM lx"),

    // text: per-source corpus report — the by-source breakdown a dataset
    // card actually publishes (docs, tokens, duplicate rate, English
    // share per source). One aggregation pass, grouped on the source key.
    // First output column 'domain' is the unique group key (oracle-compare
    // invariant: the alphabetically-first column sorts the rows).
    Q("q_corpus_report_by_source", (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("source").alias("domain"))
        .agg(
          count(lit(1)).alias("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long"))
            .alias("total_tokens"),
          countDistinct(TextAnalysis.fingerprint(col("text"))).alias("__uniq"),
          sum(when(TextAnalysis.langId(col("text")) === "en", 1L).otherwise(0L))
            .alias("__en"))
        .select(col("domain"), col("n_docs"), col("total_tokens"),
          round(lit(1.0) - col("__uniq").cast("double") / col("n_docs"), 6)
            .alias("dup_rate"),
          round(col("__en").cast("double") / col("n_docs"), 6)
            .alias("share_en"))
        .orderBy("domain"),
      "WITH lx AS (SELECT doc_id, text, source, " +
        s"len(list_filter(string_split(lower(text), ' '), x -> x IN $EnStop)) AS n_en, " +
        s"len(list_filter(string_split(lower(text), ' '), x -> x IN $DeStop)) AS n_de, " +
        s"len(list_filter(string_split(lower(text), ' '), x -> x IN $FrStop)) AS n_fr, " +
        s"len(list_filter(string_split(lower(text), ' '), x -> x IN $EsStop)) AS n_es " +
        "FROM documents) " +
        "SELECT source AS domain, count(*) AS n_docs, " +
        "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens, " +
        "round(1.0 - CAST(count(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS DOUBLE) " +
        "/ count(*), 6) AS dup_rate, " +
        "round(CAST(sum(CASE WHEN n_en > 0 AND n_en = greatest(n_en, n_de, n_fr, n_es) " +
        "THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS share_en " +
        "FROM lx GROUP BY source ORDER BY domain"),

    // text: corpus-wide boilerplate-line removal (C4-style) — two banner
    // lines planted across many docs are detected (appear in >= 10 docs)
    // and stripped from every doc; original text lines are untouched
    Q("q_strip_boilerplate", (s, d) => {
      val dirty = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          lit("\nsubscribe to our newsletter today")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          lit("\ncookie consent required to continue")).otherwise(lit("")))
      val dirtyDocs = Tables.documents(s, d)
        .select(col("doc_id"), dirty.alias("text"))
      TextAnalysis.stripBoilerplateLines(dirtyDocs, "doc_id", "text", minDocs = 10)
        .select(col("doc_id"), col("text").alias("cleaned"))
        .orderBy("doc_id")
    },
      "WITH t AS (SELECT doc_id, text || " +
        "CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'subscribe to our newsletter today' ELSE '' END || " +
        "CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'cookie consent required to continue' ELSE '' END AS tx " +
        "FROM documents), " +
        "bl AS (SELECT line FROM (SELECT doc_id, unnest(list_distinct(string_split(tx, chr(10)))) AS line " +
        "FROM t) GROUP BY line HAVING count(*) >= 10), " +
        "u AS (SELECT doc_id, unnest(string_split(tx, chr(10))) AS l, " +
        "unnest(range(1, len(string_split(tx, chr(10))) + 1)) AS i FROM t), " +
        "k AS (SELECT doc_id, string_agg(l, chr(10) ORDER BY i) AS cleaned FROM u " +
        "WHERE l NOT IN (SELECT line FROM bl) GROUP BY doc_id) " +
        "SELECT t.doc_id, coalesce(k.cleaned, '') AS cleaned " +
        "FROM t LEFT JOIN k ON t.doc_id = k.doc_id ORDER BY t.doc_id"),

    // text: unigram LM log-probability (perplexity-style quality score) —
    // each doc scored under the corpus's own unigram distribution
    Q("q_unigram_logprob", (s, d) =>
      TextAnalysis.unigramLogProb(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id"),
      "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents), " +
        "freq AS (SELECT t, count(*) AS tf FROM tok GROUP BY 1), " +
        "n AS (SELECT count(*) AS nn FROM tok) " +
        // 9-dp-pinned ln terms through an exact DECIMAL sum (the op's
        // cross-libm transcendental-output stance), round0 readout
        "SELECT tok.doc_id, round(CAST(sum(CAST(round(ln(CAST(freq.tf AS DOUBLE) " +
        "/ n.nn), 9) AS DECIMAL(28,9))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) " +
        "+ 0.0 AS logprob " +
        "FROM tok JOIN freq USING (t) CROSS JOIN n GROUP BY tok.doc_id ORDER BY tok.doc_id"),

    // text: overlapping 64-token chunks with 16-token overlap — the
    // document chunker of pretraining/retrieval pipelines. Pure array
    // expressions; the fan-out rides the scan, zero shuffle.
    Q("q_chunk_overlap", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(TextAnalysis.chunkOverlap(col("text"), 64, 16)))
        .select(concat(col("doc_id").cast("string"), lit("_"),
          col("pos").cast("string")).alias("key"),
          col("doc_id"), col("pos").cast("long").alias("chunk_id"),
          col("col").alias("chunk_text"))
        .orderBy("key"),
      "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "c AS (SELECT doc_id, toks, " +
        "CAST(floor((greatest(len(toks) - 16, 1) + 47) / 48) AS BIGINT) AS nc FROM t), " +
        "u AS (SELECT doc_id, toks, unnest(range(0, nc)) AS ci FROM c) " +
        "SELECT CAST(doc_id AS VARCHAR) || '_' || CAST(ci AS VARCHAR) AS key, " +
        "doc_id, ci AS chunk_id, " +
        "array_to_string(toks[ci*48+1 : ci*48+64], ' ') AS chunk_text " +
        "FROM u ORDER BY key"),

    // text: CHUNK-level exact dedup — dedup at the granularity a
    // retrieval store actually indexes: chunk the corpus, fingerprint
    // each chunk, keep the first (doc, chunk) per fingerprint with its
    // copy count. One narrow chunk fan-out + one fingerprint shuffle.
    Q("q_chunk_dedup", (s, d) => {
      val chunks = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(TextAnalysis.chunkOverlap(col("text"), 64, 16)))
        .select(col("doc_id"), col("pos").cast("long").alias("chunk_id"),
          col("col").alias("chunk_text"))
      chunks
        .groupBy(TextAnalysis.fingerprint(col("chunk_text")).alias("fp"))
        .agg(min(struct(col("doc_id"), col("chunk_id"))).alias("__k"),
          count(lit(1)).alias("n_copies"))
        .select(col("fp"), col("__k.doc_id").alias("doc_id"),
          col("__k.chunk_id").alias("chunk_id"), col("n_copies"))
        .orderBy("fp")
    },
      "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "c AS (SELECT doc_id, toks, " +
        "CAST(floor((greatest(len(toks) - 16, 1) + 47) / 48) AS BIGINT) AS nc FROM t), " +
        "u AS (SELECT doc_id, toks, unnest(range(0, nc)) AS ci FROM c), " +
        "ch AS (SELECT doc_id, ci AS chunk_id, " +
        "md5(regexp_replace(lower(trim(array_to_string(toks[ci*48+1 : ci*48+64], ' '))), '\\s+', ' ', 'g')) AS fp " +
        "FROM u) " +
        "SELECT fp, doc_id, chunk_id, n_copies FROM (" +
        "SELECT fp, doc_id, chunk_id, " +
        "count(*) OVER (PARTITION BY fp) AS n_copies, " +
        "row_number() OVER (PARTITION BY fp ORDER BY doc_id, chunk_id) AS rn FROM ch) " +
        "WHERE rn = 1 ORDER BY fp"),

    // text: frozen-vocab unigram scoring — the production shape for
    // scoring NEW data under a pretrained LM: vocab = the corpus's top-20
    // tokens with exact ln(tf/N) log-probs (one small aggregation),
    // broadcast as a single map row; every doc is then scored by a
    // narrow per-row fold with an OOV floor — the token stream never
    // shuffles (unlike q_unigram_logprob's corpus-self join).
    Q("q_unigram_score_frozen", (s, d) => {
      val docs = Tables.documents(s, d)
      val toks = docs.select(explode(TextAnalysis.tokens(col("text"))).alias("token"))
      val n = toks.agg(count(lit(1)).alias("__n"))
      val vocab = toks.groupBy("token").agg(count(lit(1)).alias("__tf"))
        .crossJoin(broadcast(n))
        .orderBy(desc("__tf"), asc("token")).limit(20)
        .select(col("token"),
          // 9-dp-pinned ln output (cross-libm transcendental stance)
          round(log(col("__tf").cast("double") / col("__n")), 9)
            .alias("logp"))
      TextAnalysis.unigramScoreFrozen(docs, "doc_id", "text", vocab,
        oovLogProb = -15.0)
        .orderBy("doc_id")
    },
      "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents), " +
        "n AS (SELECT count(*) AS nn FROM tok), " +
        "v AS (SELECT t, round(ln(CAST(count(*) AS DOUBLE) / (SELECT nn FROM n)), 9) AS logp " +
        "FROM tok GROUP BY t ORDER BY count(*) DESC, t LIMIT 20) " +
        "SELECT tok.doc_id, round(sum(coalesce(v.logp, -15.0)) / count(*), 6) AS score " +
        "FROM tok LEFT JOIN v ON tok.t = v.t GROUP BY tok.doc_id ORDER BY tok.doc_id"),

    // text: content fingerprint
    Q("q_fingerprint", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).alias("fp"),
          TextAnalysis.fingerprint32(col("text")).alias("fp32"))
        .orderBy("doc_id"),
      "WITH t AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp " +
        "FROM documents) " +
        "SELECT doc_id, fp, ('0x' || substr(fp, 1, 8))::BIGINT AS fp32 FROM t ORDER BY doc_id"),

    // text: perplexity-style TAIL DROP — score every doc under the corpus
    // unigram LM, then keep docs at or above the 10th percentile (the
    // standard "drop the weird tail" quality pass). The threshold is ONE
    // broadcast row; both sides work on 6-dp-rounded scores so the
    // boundary comparison is engine-exact.
    Q("q_quality_tail_drop", (s, d) => {
      val scored = TextAnalysis.unigramLogProb(Tables.documents(s, d),
        "doc_id", "text")
      val thr = scored.agg(
        round(expr("percentile(logprob, 0.1D)"), 6).alias("__thr"))
      scored.crossJoin(broadcast(thr))
        .filter(col("logprob") >= col("__thr"))
        .select("doc_id", "logprob").orderBy("doc_id")
    },
      "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents), " +
        "freq AS (SELECT t, count(*) AS tf FROM tok GROUP BY 1), " +
        "n AS (SELECT count(*) AS nn FROM tok), " +
        "sc AS (SELECT tok.doc_id, round(CAST(sum(CAST(round(ln(CAST(freq.tf AS DOUBLE) " +
        "/ n.nn), 9) AS DECIMAL(28,9))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) " +
        "+ 0.0 AS logprob " +
        "FROM tok JOIN freq USING (t) CROSS JOIN n GROUP BY tok.doc_id), " +
        "thr AS (SELECT round(quantile_cont(logprob, 0.1), 6) AS th FROM sc) " +
        "SELECT sc.doc_id, sc.logprob FROM sc, thr WHERE sc.logprob >= thr.th " +
        "ORDER BY sc.doc_id"),

    // text: quality-decile CURRICULUM table — docs bucketed into exact
    // deciles of the unigram LM score, with per-decile count, score range,
    // and mean length (the table behind "train on the top-N deciles
    // first"). The global ntile window sorts only (id, score, n_tok)
    // triples — narrow; exact deciles inherently total-order the corpus
    // (approximate quantile cutpoints are the 100 TB path, same report
    // shape).
    Q("q_quality_deciles", (s, d) => {
      val docs = Tables.documents(s, d)
      val scored = TextAnalysis.unigramLogProb(docs, "doc_id", "text")
      val withTok = scored.join(
        docs.select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").alias("n_tok")),
        "doc_id")
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("logprob"), col("doc_id"))
      withTok.withColumn("decile", ntile(10).over(w).cast("long"))
        .groupBy("decile")
        .agg(count(lit(1)).alias("n_docs"),
          round(min(col("logprob")), 6).alias("min_lp"),
          round(max(col("logprob")), 6).alias("max_lp"),
          round(sum(col("n_tok")).cast("double") / count(lit(1)), 6)
            .alias("avg_tokens"))
        .orderBy("decile")
    },
      "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents), " +
        "freq AS (SELECT t, count(*) AS tf FROM tok GROUP BY 1), " +
        "n AS (SELECT count(*) AS nn FROM tok), " +
        "sc AS (SELECT tok.doc_id, round(CAST(sum(CAST(round(ln(CAST(freq.tf AS DOUBLE) " +
        "/ n.nn), 9) AS DECIMAL(28,9))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) " +
        "+ 0.0 AS logprob " +
        "FROM tok JOIN freq USING (t) CROSS JOIN n GROUP BY tok.doc_id), " +
        "tt AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents), " +
        "j AS (SELECT sc.doc_id, sc.logprob, tt.n_tok, " +
        "ntile(10) OVER (ORDER BY sc.logprob, sc.doc_id) AS decile " +
        "FROM sc JOIN tt USING (doc_id)) " +
        "SELECT decile, count(*) AS n_docs, " +
        "round(min(logprob), 6) AS min_lp, round(max(logprob), 6) AS max_lp, " +
        "round(CAST(sum(n_tok) AS DOUBLE) / count(*), 6) AS avg_tokens " +
        "FROM j GROUP BY decile ORDER BY decile"),

    // FLAGSHIP composite — the LLM training-data prep pipeline end-to-end:
    // Gopher-style quality gate → language filter (keep English) → exact
    // dedup (content fingerprint, min-id canonical) → token counts for the
    // surviving corpus. Each stage is an independently oracle-proven
    // operator; the composition is the workload this engine exists for.
    // Plan shape: one scan feeds the narrow filters (no shuffle until the
    // dedup groupBy), dedup shuffles the 128-bit fingerprint only, and the
    // canonical-id semi-join shuffles ids — text never crosses the wire
    // after the scan.
    Q("q_llm_prep", (s, d) => {
      val kept = Tables.documents(s, d)
        .filter(TextAnalysis.qualityKeep(col("text"), minTokens = 8,
          maxTokens = 100000, minStopRatio = 0.01))
        .filter(TextAnalysis.langId(col("text")) === "en")
      val canon = ScaleDedup.exactDedupGroups(kept, "doc_id", "text")
        .select(col("keep_id").alias("doc_id"))
      kept.join(canon, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").alias("n_tokens"))
        .orderBy("doc_id")
    },
      // Composite mirror: quality gate ∘ lang-id='en' ∘ exact-dedup-canonical
      // ∘ token count — each CTE reuses the SQL of its single-operator oracle
      // (the 'en' condition is exactly q_lang_id's first CASE branch, which
      // wins ties by English priority).
      "WITH q AS (SELECT doc_id, text FROM (" +
        "SELECT doc_id, text, len(string_split(text, ' ')) AS n_tok, " +
        s"round(CAST(len(list_filter(string_split(lower(text), ' '), x -> x IN $EnStop)) AS DOUBLE) " +
        "/ len(string_split(text, ' ')), 6) AS stop_ratio FROM documents) " +
        "WHERE n_tok BETWEEN 8 AND 100000 AND stop_ratio >= 0.01), " +
        "l AS (SELECT doc_id, text FROM (" +
        "SELECT doc_id, text, " +
        s"len(list_filter(string_split(lower(text), ' '), x -> x IN $EnStop)) AS n_en, " +
        s"len(list_filter(string_split(lower(text), ' '), x -> x IN $DeStop)) AS n_de, " +
        s"len(list_filter(string_split(lower(text), ' '), x -> x IN $FrStop)) AS n_fr, " +
        s"len(list_filter(string_split(lower(text), ' '), x -> x IN $EsStop)) AS n_es " +
        "FROM q) WHERE n_en > 0 AND n_en = greatest(n_en, n_de, n_fr, n_es)), " +
        "c AS (SELECT min(doc_id) AS doc_id FROM (" +
        "SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp " +
        "FROM l) GROUP BY fp) " +
        "SELECT l.doc_id, CAST(len(string_split(l.text, ' ')) AS BIGINT) AS n_tokens " +
        "FROM l JOIN c ON l.doc_id = c.doc_id ORDER BY l.doc_id"),

    // text: document token-length histogram — the sequence-length
    // distribution a dataset card publishes (and the input to choosing a
    // packing budget). Width-20 buckets, one narrow pass + one tiny agg.
    Q("q_doclen_histogram", (s, d) =>
      Tables.documents(s, d)
        .select((floor(TextAnalysis.tokenCount(col("text")) / 20) * 20)
          .cast("long").alias("bucket"))
        .groupBy("bucket").agg(count(lit(1)).alias("n_docs"))
        .orderBy("bucket"),
      "SELECT CAST(floor(len(string_split(text, ' ')) / 20) * 20 AS BIGINT) AS bucket, " +
        "count(*) AS n_docs FROM documents GROUP BY 1 ORDER BY bucket"),

    // FLAGSHIP v2 — the complete modern pretraining-prep stack in one
    // composition: Gopher quality gate WITH repetition bounds → language
    // filter → benchmark decontamination (13-gram vs the %37 eval set) →
    // exact dedup canonical → deterministic domain mix → real BPE token
    // count. Every stage is an independently oracle-proven operator; plan
    // shape: narrow filters off one scan, the only corpus-wide shuffles
    // are the dedup fingerprint groupBy and the contaminated/canonical id
    // joins — text itself never crosses the wire after the scan, and the
    // BPE kernel runs only on surviving rows.
    Q("q_llm_prep_full", (s, d) => {
      val docs = Tables.documents(s, d)
      val evalSet = docs.filter(col("doc_id") % 37 === 0)
      val kept = docs
        .filter(TextAnalysis.qualityKeep(col("text"), minTokens = 8,
          maxTokens = 100000, minStopRatio = 0.01,
          maxDupLineRatio = 0.2, maxTopNgramCharRatio = 0.2))
        .filter(TextAnalysis.langId(col("text")) === "en")
      val clean = ScaleDedup.decontaminate(kept, "doc_id", "text",
        evalSet, "text", n = 13)
      val canon = ScaleDedup.exactDedupGroups(clean, "doc_id", "text")
        .select(col("keep_id").alias("doc_id"))
      val mixed = Mix.stratifiedSample(
        clean.join(canon, Seq("doc_id"), "left_semi"),
        "source", "doc_id", Map("src0" -> 0.5, "src1" -> 0.25))
      mixed.select(col("doc_id"),
        size(graft.functions.Bpe.bpe_tokens(col("text"),
          TextAnalysis.DefaultBpeMerges)).cast("long").alias("n_bpe"))
        .orderBy("doc_id")
    },
      llmPrepFullOracle),

    // text: REAL BPE tokenization against a fixed merges table — the
    // native kernel applies SentencePiece-style leftmost-lowest-rank
    // merging per word (a zero-shuffle projection; the merges table is
    // the broadcast model artifact). Token counts are now subword counts,
    // not word counts.
    Q("q_bpe_tokens", (s, d) => {
      val toks = graft.functions.Bpe.bpe_tokens(col("text"),
        TextAnalysis.DefaultBpeMerges)
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(toks).cast("long").alias("n_bpe"),
          concat_ws("|", slice(toks, 1, 10)).alias("head_toks"))
        .orderBy("doc_id")
    },
      bpeOracle),

    // text: BPE-ish regex tokenization
    Q("q_regex_tokens", (s, d) => {
      val toks = TextAnalysis.regexTokens(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(toks).cast("long").alias("n_rtokens"),
          concat_ws("|", slice(toks, 1, 8)).alias("head_toks"))
        .orderBy("doc_id")
    },
      "WITH t AS (SELECT doc_id, list_filter(string_split_regex(" +
        "regexp_replace(text, '([^\\s A-Za-z0-9]+)', ' \\1 ', 'g'), '\\s+'), " +
        "x -> x <> '') AS toks FROM documents) " +
        "SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_rtokens, " +
        "array_to_string(toks[1:8], '|') AS head_toks FROM t ORDER BY doc_id"),

    // PII scrub — redact emails/URLs before training
    Q("q_scrub_pii", (s, d) => {
      val dirty = when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" user@example.com see https://example.com/x")))
        .otherwise(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.scrubPii(substring(dirty, 1, 80)).alias("clean"))
        .orderBy("doc_id")
    },
      "WITH t AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 " +
        "THEN text || ' user@example.com see https://example.com/x' ELSE text END AS dirty " +
        "FROM documents) " +
        "SELECT doc_id, regexp_replace(regexp_replace(substr(dirty, 1, 80), " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
        "'https?://[^\\s]+', '<URL>', 'g') AS clean FROM t ORDER BY doc_id"),

    // TF-IDF top-3 terms per sampled document
    Q("q_tfidf_top", (s, d) => {
      val docs = Tables.documents(s, d)
      val tf = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).alias("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).alias("tf"))
      val dfreq = tf.groupBy("token").agg(count(lit(1)).alias("df"))
      val n = docs.agg(count(lit(1)).alias("N"))
      val scored = tf.filter(col("doc_id") % 50 === 0)
        .join(dfreq, "token").crossJoin(broadcast(n))
        .withColumn("tfidf",
          round(col("tf") * log(col("N").cast("double") / col("df")), 6))
      val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), asc("token"))
      scored.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("doc_id", "token", "tfidf", "rn")
        .orderBy("doc_id", "rn")
    },
      "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents), " +
        "tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2), " +
        "dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1), " +
        "n AS (SELECT count(*) AS N FROM documents), " +
        "sc AS (SELECT tf.doc_id, tf.token, " +
        "round(tf.tf * ln(CAST(n.N AS DOUBLE) / dfreq.df), 6) AS tfidf " +
        "FROM tf JOIN dfreq USING (token) CROSS JOIN n WHERE tf.doc_id % 50 = 0) " +
        "SELECT doc_id, token, tfidf, CAST(rn AS BIGINT) AS rn FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn FROM sc) " +
        "WHERE rn <= 3 ORDER BY doc_id, rn"),

    // explode + aggregate — corpus token frequency, top-20
    Q("q_token_freq", (s, d) =>
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).alias("token"))
        .groupBy("token").agg(count(lit(1)).alias("n"))
        .orderBy(desc("n"), asc("token")).limit(20),
      "SELECT token, count(*) AS n FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS token FROM documents) " +
        "GROUP BY token ORDER BY n DESC, token LIMIT 20"),

    // text: in-document duplicate-line removal (same planted boilerplate
    // as q_quality_repetition — this is the remediation, that's the signal)
    Q("q_dedup_lines", (s, d) => {
      val line1 = substring(col("text"), 1, 40)
      val dirty = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit("\n"), line1, lit("\n"), line1))
        .otherwise(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), dirty.alias("raw"))
        .select(col("doc_id"), col("raw"),
          TextAnalysis.dedupLinesInDoc(col("raw")).alias("text_clean"))
        .select(col("doc_id"), col("text_clean"),
          (length(col("raw")) - length(col("text_clean"))).cast("long")
            .alias("removed_chars"))
        .orderBy("doc_id")
    },
      // DuckDB lambda indexes are 1-based (Spark's are 0-based, hence i+1
      // on the Spark side); list_position = first-occurrence index in both.
      s"WITH t AS (SELECT doc_id, $DirtyText AS raw FROM documents), " +
        "c AS (SELECT doc_id, raw, array_to_string(list_filter(" +
        "string_split(raw, chr(10)), " +
        "(x, i) -> list_position(string_split(raw, chr(10)), x) = i), " +
        "chr(10)) AS text_clean FROM t) " +
        "SELECT doc_id, text_clean, " +
        "CAST(length(raw) - length(text_clean) AS BIGINT) AS removed_chars " +
        "FROM c ORDER BY doc_id"),

    // retrieval: BM25 top-5 per keyword query (lexical-search baseline)
    Q("q_bm25_topk", (s, d) =>
      TextAnalysis.bm25TopK(Tables.documents(s, d), "doc_id", "text",
          Bm25Queries, k = 5)
        .select("query_id", "doc_id", "score", "rank")
        .orderBy("query_id", "rank"),
      bm25Oracle),

    // text: RAKE keyword extraction — top-20 content phrases by
    // degree/frequency word scores (model-free corpus-card keywords)
    Q("q_rake_keywords", (s, d) =>
      TextAnalysis.rakeKeywords(Tables.documents(s, d), "text",
        topK = 20, maxWords = 3),
      // Same break-marker normalization, frozen stopword list, score sums.
      rakeOracle),

    // retrieval: Dirichlet query-likelihood top-5 — the LM ranker the
    // stack A/Bs against BM25 over the same query batch
    Q("q_qlm_topk", (s, d) =>
      TextAnalysis.qlmTopK(Tables.documents(s, d), "doc_id", "text",
          Bm25Queries, k = 5)
        .select("query_id", "doc_id", "score", "rank")
        .orderBy("query_id", "rank"),
      // Same hit-postings decomposition, same μ literal, same tie order.
      qlmOracle),

    // Rank-biased overlap between the BM25 and QLM runs (p=0.9, k=5) —
    // the top-weighted ranker-agreement diff, computed on the two
    // runs-sized outputs (the corpus is scanned only by the runs).
    Q("q_rbo", (s, d) => {
      val docs = Tables.documents(s, d)
      val a = TextAnalysis.bm25TopK(docs, "doc_id", "text", Bm25Queries, k = 5)
      val b = TextAnalysis.qlmTopK(docs, "doc_id", "text", Bm25Queries, k = 5)
      TextAnalysis.rankBiasedOverlap(a, b, "query_id", "doc_id", "rank",
        k = 5, p = 0.9)
    },
      rboOracle),

    // retrieval eval: NDCG@5 / AP@5 / RR of the BM25 run against graded
    // relevance (= distinct query terms present in the doc) — the offline
    // report a ranker change ships with
    Q("q_rank_eval", (s, d) => {
      val docs = Tables.documents(s, d)
      import s.implicits._
      val qtok = Bm25Queries.toDF("query_id", "qtext")
        .select(col("query_id"),
          explode(split(col("qtext"), " ")).alias("token"))
        .distinct()
      val rel = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).alias("token"))
        .distinct()
        .join(broadcast(qtok), "token")
        .groupBy("query_id", "doc_id")
        .agg(count(lit(1)).alias("rel"))
      val run = TextAnalysis.bm25TopK(docs, "doc_id", "text", Bm25Queries, 5)
        .select("query_id", "doc_id", "rank")
      TextAnalysis.rankingEval(run, rel, k = 5).orderBy("query_id")
    },
      // Same BM25 run CTEs, same gains/discounts/0-not-NULL conventions.
      rankEvalOracle),

    // composite: clean-ingest — the ingest-side prep chain the ops
    // form: NFC normalize + invisible strip (planted dirt) →
    // in-document line dedup (planted boilerplate) → exact dedup on the
    // CLEANED fingerprint (cleaning is what makes near-identical raw
    // bytes collapse) → per-source dataset-card row. Text never
    // shuffles: the rewrite rides the scan, dedup ships md5 fingerprints,
    // the report is one grouped aggregation.
    Q("q_clean_ingest", (s, d) => {
      val line1 = substring(col("text"), 1, 40)
      val dirt1 = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit("\n"), line1, lit("\n"), line1))
        .otherwise(col("text"))
      val dirty = when(col("doc_id") % 2 === 0,
        concat(dirt1, lit(" cafe\u0301\u200B  tail\u0007 ")))
        .otherwise(dirt1)
      val cleaned = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          TextAnalysis.dedupLinesInDoc(
            TextAnalysis.normalizeText(dirty)).alias("clean"))
      // everything the dedup + report need is derived BEFORE the
      // exchange: the window shuffles 4 narrow columns, never text
      val slim = cleaned.select(col("doc_id"), col("source"),
        md5(col("clean")).alias("__fp"),
        size(split(col("clean"), " ")).alias("__nt"))
      val w = Window.partitionBy("__fp").orderBy("doc_id")
      slim.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .groupBy("source")
        .agg(count(lit(1)).alias("n_docs"),
          sum(col("__nt")).alias("n_tokens"))
        .orderBy("source")
    },
      // Mirrors q_clean_ingest: the same stage chain as the q_dedup_lines /
      // q_normalize_text mirrors, then QUALIFY keep-first per md5(clean)
      // and the per-source rollup (sum(BIGINT) is HUGEINT in DuckDB —
      // cast back).
      "WITH t AS (SELECT doc_id, source, CASE WHEN doc_id % 3 = 0 THEN " +
        "text || chr(10) || substr(text, 1, 40) || chr(10) || substr(text, 1, 40) " +
        "ELSE text END AS d1 FROM documents), " +
        "t2 AS (SELECT doc_id, source, CASE WHEN doc_id % 2 = 0 THEN " +
        "d1 || ' cafe' || chr(769) || chr(8203) || '  tail' || chr(7) || ' ' " +
        "ELSE d1 END AS raw FROM t), " +
        "n AS (SELECT doc_id, source, trim(regexp_replace(regexp_replace(" +
        "nfc_normalize(raw), " +
        "'[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\\x{200B}-\\x{200D}\\x{FEFF}]', '', 'g'), " +
        "'[ \\t]+', ' ', 'g')) AS tx FROM t2), " +
        "l AS (SELECT doc_id, source, array_to_string(list_filter(" +
        "string_split(tx, chr(10)), " +
        "(x, i) -> list_position(string_split(tx, chr(10)), x) = i), " +
        "chr(10)) AS clean FROM n), " +
        "k AS (SELECT doc_id, source, clean FROM l " +
        "QUALIFY row_number() OVER (PARTITION BY md5(clean) ORDER BY doc_id) = 1) " +
        "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(len(string_split(clean, ' '))) AS BIGINT) AS n_tokens " +
        "FROM k GROUP BY source ORDER BY source"),

    // vocabulary typo mining — entity-resolution shape: bucket the
    // DISTINCT vocabulary by length (tokens of length L emit keys
    // {L, L+1}, so |len(a)−len(b)| ≤ 1 pairs meet), equi-join buckets,
    // keep edit-distance-1 pairs. All-pairs work happens on the VOCAB
    // (Heaps-law small), never the corpus; the token stream only feeds
    // one count shuffle. Planted single-edit typos (scan→scam,
    // join→joim in a deterministic doc slice) give the miner targets.
    Q("q_token_typos", (s, d) => {
      val dirty = when(col("doc_id") % 37 === 0,
          regexp_replace(col("text"), "\\bscan\\b", "scam"))
        .when(col("doc_id") % 41 === 0,
          regexp_replace(col("text"), "\\bjoin\\b", "joim"))
        .otherwise(col("text"))
      val vocab = Tables.documents(s, d)
        .select(explode(split(dirty, " ")).alias("token"))
        .groupBy("token").agg(count(lit(1)).alias("n"))
      val k = vocab.select(col("token"), col("n"),
        explode(array(length(col("token")), length(col("token")) + 1))
          .alias("b"))
      val a = k.select(col("b"), col("token").alias("t1"), col("n").alias("n1"))
      val b = k.select(col("b"), col("token").alias("t2"), col("n").alias("n2"))
      a.join(b, Seq("b")).filter(col("t1") < col("t2"))
        .filter(levenshtein(col("t1"), col("t2")) === 1)
        .select("t1", "t2", "n1", "n2").distinct()
        .orderBy("t1", "t2")
    },
      // Mirrors q_token_typos (same planting, same length banding; both
      // engines' levenshtein is classic unit-cost edit distance).
      "WITH t AS (SELECT CASE WHEN doc_id % 37 = 0 THEN " +
        "regexp_replace(text, '\\bscan\\b', 'scam', 'g') " +
        "WHEN doc_id % 41 = 0 THEN regexp_replace(text, '\\bjoin\\b', 'joim', 'g') " +
        "ELSE text END AS text FROM documents), " +
        "v AS (SELECT token, count(*) AS n FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS token FROM t) GROUP BY 1), " +
        "k AS (SELECT token, n, unnest([length(token), length(token) + 1]) AS b FROM v) " +
        "SELECT DISTINCT a.token AS t1, b.token AS t2, a.n AS n1, b.n AS n2 " +
        "FROM k a JOIN k b ON a.b = b.b AND a.token < b.token " +
        "WHERE levenshtein(a.token, b.token) = 1 ORDER BY t1, t2"),

    // text: bigram-LM quality score (perplexity-filter ladder, rung 2)
    Q("q_bigram_logprob", (s, d) =>
      TextAnalysis.bigramLogProb(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id"),
      // Mirrors TextAnalysis.bigramLogProb: row-local bigram lists (DuckDB
      // range() is a plain list inside lambdas), identical smoothing
      // arithmetic, DECIMAL(28,14) per-doc sums.
      "WITH a AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)), " +
        "i -> toks[i] || ' ' || toks[i+1])) AS big FROM a WHERE len(toks) >= 2), " +
        "bp AS (SELECT doc_id, string_split(big, ' ')[1] AS prev, big FROM bg), " +
        "cb AS (SELECT big, count(*) AS cb FROM bp GROUP BY 1), " +
        "cu AS (SELECT t, count(*) AS cu FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS t FROM documents) GROUP BY 1), " +
        "vv AS (SELECT count(*) AS v FROM cu) " +
        "SELECT bp.doc_id, round(CAST(sum(CAST(round(ln((cb.cb + 1.0) / (cu.cu + vv.v)), 9) " +
        "AS DECIMAL(28,14))) AS DOUBLE) / count(*), 6) AS logprob " +
        "FROM bp JOIN cb USING (big) JOIN cu ON cu.t = bp.prev CROSS JOIN vv " +
        "GROUP BY 1 ORDER BY 1"),

    // text: Unicode NFC + control/zero-width strip + whitespace collapse
    // (planted combining accents, ZWSP, a control char, double spaces)
    Q("q_normalize_text", (s, d) => {
      val dirty = when(col("doc_id") % 2 === 0,
        // "e"+U+0301 COMBINING ACUTE (composes under NFC), U+200B ZWSP,
        // double space, U+0007 BEL, trailing space - one probe per rule
        concat(col("text"), lit(" cafe\u0301\u200B  tail\u0007 ")))
        .otherwise(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.normalizeText(dirty).alias("text_norm"))
        .withColumn("n_norm", length(col("text_norm")).cast("long"))
        .orderBy("doc_id")
    },
      // Mirrors TextAnalysis.normalizeText: utf8proc nfc_normalize and
      // java.text.Normalizer both implement Unicode TR15 NFC; the strip /
      // collapse regexes are spelled RE2-and-Java-compatible so the exact
      // same patterns run on both engines. chr() codepoints rebuild the
      // planted dirt (769=U+0301, 8203=U+200B, 7=BEL).
      "WITH t AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN " +
        "text || ' cafe' || chr(769) || chr(8203) || '  tail' || chr(7) || ' ' " +
        "ELSE text END AS raw FROM documents), " +
        "n AS (SELECT doc_id, trim(regexp_replace(regexp_replace(" +
        "nfc_normalize(raw), " +
        "'[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\\x{200B}-\\x{200D}\\x{FEFF}]', '', 'g'), " +
        "'[ \\t]+', ' ', 'g')) AS text_norm FROM t) " +
        "SELECT doc_id, text_norm, CAST(length(text_norm) AS BIGINT) AS n_norm " +
        "FROM n ORDER BY doc_id"),

    // model-based quality gate: Naive-Bayes bag-of-words classifier
    // trained on lang=='en' and applied back over the corpus
    Q("q_nb_classify", (s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.naiveBayesScore(docs, "doc_id", "text",
          col("lang") === "en")
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .select("doc_id", "score", "pred", "lang")
        .orderBy("doc_id")
    },
      // Mirrors TextAnalysis.naiveBayesScore: same Laplace llr shape and
      // DECIMAL(28,14) per-doc sums; pred is the 6-dp score's sign.
      "WITH lab AS (SELECT doc_id, text, (lang = 'en') AS y FROM documents), " +
        "tok AS (SELECT doc_id, y, unnest(string_split(text, ' ')) AS token FROM lab), " +
        "pt AS (SELECT token, sum(CASE WHEN y THEN 1 ELSE 0 END) AS c1, " +
        "sum(CASE WHEN y THEN 0 ELSE 1 END) AS c0 FROM tok GROUP BY 1), " +
        "tot AS (SELECT sum(c1) AS t1, sum(c0) AS t0, count(*) AS v FROM pt), " +
        "pri AS (SELECT sum(CASE WHEN y THEN 1 ELSE 0 END) AS n1, " +
        "sum(CASE WHEN y THEN 0 ELSE 1 END) AS n0 FROM lab), " +
        "model AS (SELECT token, round(ln((c1 + 1.0) / (t1 + v)) - ln((c0 + 1.0) / (t0 + v)), 9) AS llr " +
        "FROM pt CROSS JOIN tot), " +
        "sc AS (SELECT doc_id, sum(CAST(llr AS DECIMAL(28,14))) AS sllr " +
        "FROM tok JOIN model USING (token) GROUP BY 1), " +
        "fin AS (SELECT doc_id, round(ln(CAST(n1 AS DOUBLE) / n0) + CAST(sllr AS DOUBLE), 6) AS score " +
        "FROM sc CROSS JOIN pri) " +
        "SELECT f.doc_id, f.score, f.score > 0 AS pred, d.lang " +
        "FROM fin f JOIN documents d USING (doc_id) ORDER BY f.doc_id"),

    // PMI collocations (TextAnalysis.collocations): top-50 adjacent token
    // pairs by pointwise mutual information (min pair count 5) over the
    // documents corpus — multi-word-expression mining for vocabulary
    // curation.
    Q("q_collocations", (s, d) =>
      graft.ops.TextAnalysis.collocations(Tables.documents(s, d), "text",
        minCount = 5L, topN = 50),
      "WITH base AS (SELECT string_split(text, ' ') AS toks FROM documents), " +
        "bg AS (SELECT toks[i] AS w1, toks[i + 1] AS w2 " +
        "FROM base, unnest(generate_series(1, len(toks) - 1)) AS u(i) " +
        "WHERE len(toks) >= 2), " +
        "cb AS (SELECT w1, w2, count(*) AS pair_count FROM bg GROUP BY 1, 2), " +
        "cu AS (SELECT unnest(toks) AS t FROM base), " +
        "cuc AS (SELECT t, count(*) AS cu FROM cu GROUP BY 1), " +
        "tot AS (SELECT CAST((SELECT sum(cu) FROM cuc) AS BIGINT) AS n, " +
        "CAST((SELECT sum(pair_count) FROM cb) AS BIGINT) AS m) " +
        "SELECT cb.w1, cb.w2, cb.pair_count, " +
        "round(ln((CAST(cb.pair_count AS DOUBLE) / CAST(tot.m AS DOUBLE)) / " +
        "((CAST(a.cu AS DOUBLE) / CAST(tot.n AS DOUBLE)) * " +
        "(CAST(b.cu AS DOUBLE) / CAST(tot.n AS DOUBLE)))), 6) AS pmi " +
        "FROM cb JOIN cuc a ON cb.w1 = a.t JOIN cuc b ON cb.w2 = b.t " +
        "CROSS JOIN tot WHERE cb.pair_count >= 5 " +
        "ORDER BY pmi DESC, cb.w1, cb.w2 LIMIT 50"),

    // TextRank keywords (TextAnalysis.textrankKeywords): PageRank over
    // the adjacent-token co-occurrence graph, top 30 tokens — the
    // graph-centrality complement to q_tfidf_top's frequency ranking.
    Q("q_textrank_keywords", (s, d) =>
      graft.ops.TextAnalysis.textrankKeywords(Tables.documents(s, d),
        "text", iters = 3, topN = 30),
      textrankOracle),

    // Pairwise source vocabulary Jaccard (TextAnalysis.sourceOverlap):
    // the sources×sources shared-template radar.
    Q("q_source_overlap", (s, d) =>
      graft.ops.TextAnalysis.sourceOverlap(Tables.documents(s, d),
        "source", "text"),
      "WITH vt AS MATERIALIZED (SELECT DISTINCT source AS k, " +
        "unnest(list_distinct(string_split(text, ' '))) AS t FROM documents), " +
        "sz AS (SELECT k, count(*) AS n FROM vt GROUP BY 1), " +
        "iv AS (SELECT a.k AS source1, b.k AS source2, count(*) AS n_common " +
        "FROM vt a JOIN vt b ON a.t = b.t AND a.k < b.k GROUP BY 1, 2) " +
        "SELECT source1, source2, CAST(s1.n AS BIGINT) AS n1, " +
        "CAST(s2.n AS BIGINT) AS n2, CAST(n_common AS BIGINT) AS n_common, " +
        "round(CAST(n_common AS DOUBLE) / CAST(s1.n + s2.n - n_common AS DOUBLE), 6) AS jaccard " +
        "FROM iv JOIN sz s1 ON iv.source1 = s1.k JOIN sz s2 ON iv.source2 = s2.k " +
        "ORDER BY source1, source2"),

    // Corpus vocabulary drift (TextAnalysis.klDrift): smoothed
    // KL(even-docs ‖ odd-docs) over unigram distributions — the text
    // twin of q_psi_drift's numeric monitor.
    Q("q_kl_drift", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.TextAnalysis.klDrift(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "text")
    },
      // Same Laplace-smoothed unigram KL with the same DECIMAL term sums.
      evenOddTokenCounts + ", " +
        "j AS (SELECT coalesce(ca.ca, 0) AS ca, coalesce(cb.cb, 0) AS cb " +
        "FROM ca FULL OUTER JOIN cb ON ca.token = cb.token), " +
        "t AS (SELECT sum(ca) AS ta, sum(cb) AS tb, count(*) AS v FROM j), " +
        "p AS (SELECT (ca + 1.0) / (t.ta + t.v) AS pa, " +
        "(cb + 1.0) / (t.tb + t.v) AS pb FROM j CROSS JOIN t) " +
        "SELECT round(CAST(sum(CAST(round(pa * ln(pa / pb), 9) AS DECIMAL(28,14))) " +
        "AS DOUBLE), 6) AS kl_ab, CAST(count(*) AS BIGINT) AS vocab FROM p"),

    // Hellinger distance between the even/odd document slices' unigram
    // distributions (TextAnalysis.hellingerDrift): the bounded symmetric
    // metric twin of q_kl_drift, on the same slice split.
    Q("q_hellinger", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.TextAnalysis.hellingerDrift(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "text")
    },
      // Same unsmoothed p/q doubles, IEEE-exact sqrt terms, DECIMAL BC sum.
      evenOddTokenCounts + ", " +
        "j AS (SELECT coalesce(ca.ca, 0) AS ca, coalesce(cb.cb, 0) AS cb " +
        "FROM ca FULL OUTER JOIN cb ON ca.token = cb.token), " +
        "t AS (SELECT sum(ca) AS ta, sum(cb) AS tb FROM j), " +
        "p AS (SELECT sqrt((CAST(ca AS DOUBLE) / CAST(t.ta AS DOUBLE)) * " +
        "(CAST(cb AS DOUBLE) / CAST(t.tb AS DOUBLE))) AS term FROM j CROSS JOIN t) " +
        "SELECT CAST(count(*) AS BIGINT) AS vocab, " +
        "round(CAST(sum(CAST(term AS DECIMAL(28,14))) AS DOUBLE), 6) AS bhattacharyya, " +
        "round(sqrt(greatest(1.0 - CAST(sum(CAST(term AS DECIMAL(28,14))) AS DOUBLE), 0.0)), 6) AS hellinger " +
        "FROM p"),

    // Dunning keyness (TextAnalysis.keyness): which tokens carry the
    // even/odd slice difference — the per-token drill-down under the
    // KL/Hellinger aggregate monitors.
    Q("q_keyness", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.TextAnalysis.keyness(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "text")
    },
      // Same vocab join and margin expectations, same 0*ln0 guards, same
      // (g2 DESC, token) order.
      evenOddTokenCounts + ", " +
        "j AS (SELECT coalesce(ca.token, cb.token) AS token, " +
        "coalesce(ca.ca, 0) AS ca, coalesce(cb.cb, 0) AS cb " +
        "FROM ca FULL OUTER JOIN cb ON ca.token = cb.token), " +
        "t AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM j) " +
        "SELECT token, CAST(ca AS BIGINT) AS n_a, CAST(cb AS BIGINT) AS n_b, " +
        "round(2.0 * (CASE WHEN ca > 0 THEN CAST(ca AS DOUBLE) * " +
        "ln(CAST(ca AS DOUBLE) / (CAST(t.na AS DOUBLE) * " +
        "(CAST(ca AS DOUBLE) + CAST(cb AS DOUBLE)) / " +
        "(CAST(t.na AS DOUBLE) + CAST(t.nb AS DOUBLE)))) ELSE 0.0 END + " +
        "CASE WHEN cb > 0 THEN CAST(cb AS DOUBLE) * " +
        "ln(CAST(cb AS DOUBLE) / (CAST(t.nb AS DOUBLE) * " +
        "(CAST(ca AS DOUBLE) + CAST(cb AS DOUBLE)) / " +
        "(CAST(t.na AS DOUBLE) + CAST(t.nb AS DOUBLE)))) ELSE 0.0 END), 6) AS g2, " +
        "CASE WHEN CAST(ca AS DOUBLE) / CAST(t.na AS DOUBLE) >= " +
        "CAST(cb AS DOUBLE) / CAST(t.nb AS DOUBLE) THEN 'a' ELSE 'b' END AS enriched_in " +
        "FROM j CROSS JOIN t ORDER BY g2 DESC, token LIMIT 40"),

    // Capture-recapture (TextAnalysis.captureRecapture): Chapman
    // estimate of the true document population from two overlapping
    // crawl slices matched on content fingerprint.
    Q("q_capture_recapture", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.TextAnalysis.captureRecapture(
        docs.filter(col("doc_id") % 3 < 2),
        docs.filter(col("doc_id") % 3 > 0), "text")
    },
      // Same per-crawl distinct fingerprints, same Chapman arithmetic.
      "WITH a AS (SELECT DISTINCT md5(regexp_replace(lower(trim(text)), " +
        "'\\s+', ' ', 'g')) AS fp FROM documents " +
        "WHERE text IS NOT NULL AND doc_id % 3 < 2), " +
        "b AS (SELECT DISTINCT md5(regexp_replace(lower(trim(text)), " +
        "'\\s+', ' ', 'g')) AS fp FROM documents " +
        "WHERE text IS NOT NULL AND doc_id % 3 > 0), " +
        "j AS (SELECT CASE WHEN a.fp IS NULL THEN 0 ELSE 1 END AS ca, " +
        "CASE WHEN b.fp IS NULL THEN 0 ELSE 1 END AS cb " +
        "FROM a FULL OUTER JOIN b ON a.fp = b.fp), " +
        "m AS (SELECT CAST(sum(ca) AS BIGINT) AS n1, " +
        "CAST(sum(cb) AS BIGINT) AS n2, " +
        "CAST(sum(ca * cb) AS BIGINT) AS n_overlap FROM j) " +
        "SELECT n1, n2, n_overlap, " +
        "round((CAST(n1 AS DOUBLE) + 1.0) * (CAST(n2 AS DOUBLE) + 1.0) / " +
        "(CAST(n_overlap AS DOUBLE) + 1.0) - 1.0, 6) AS n_estimated, " +
        "round(sqrt((CAST(n1 AS DOUBLE) + 1.0) * (CAST(n2 AS DOUBLE) + 1.0) * " +
        "(CAST(n1 AS DOUBLE) - CAST(n_overlap AS DOUBLE)) * " +
        "(CAST(n2 AS DOUBLE) - CAST(n_overlap AS DOUBLE)) / " +
        "((CAST(n_overlap AS DOUBLE) + 1.0) * (CAST(n_overlap AS DOUBLE) + 1.0) * " +
        "(CAST(n_overlap AS DOUBLE) + 2.0))), 6) AS se FROM m"),

    // Vocabulary richness (TextAnalysis.vocabRichness): Chao1 true-size
    // estimate + Good-Turing unseen mass off the count-of-counts table.
    Q("q_vocab_richness", (s, d) =>
      graft.ops.TextAnalysis.vocabRichness(Tables.documents(s, d), "text"),
      // Same count-of-counts compression, same Chao1/Good-Turing scalars.
      "WITH c AS (SELECT token, count(*) AS c FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS token FROM documents) " +
        "WHERE token <> '' GROUP BY 1), " +
        "cc AS (SELECT c, count(*) AS m FROM c GROUP BY 1), " +
        "a AS (SELECT CAST(sum(m) AS BIGINT) AS v_obs, " +
        "CAST(sum(c * m) AS BIGINT) AS n_tokens, " +
        "CAST(sum(CASE WHEN c = 1 THEN m ELSE 0 END) AS BIGINT) AS singletons, " +
        "CAST(sum(CASE WHEN c = 2 THEN m ELSE 0 END) AS BIGINT) AS doubletons FROM cc) " +
        "SELECT v_obs, n_tokens, singletons, doubletons, " +
        "CASE WHEN doubletons = 0 THEN NULL ELSE " +
        "round(CAST(v_obs AS DOUBLE) + CAST(singletons AS DOUBLE) * " +
        "CAST(singletons AS DOUBLE) / (2.0 * CAST(doubletons AS DOUBLE)), 6) END AS chao1, " +
        "round(CAST(singletons AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS unseen_mass " +
        "FROM a"),

    // GloVe-style windowed co-occurrence (TextAnalysis.cooccurrence):
    // 1/d-weighted token pairs within a 4-token window — the matrix an
    // embedding trainer consumes; row-local fan-out, no self-join.
    Q("q_cooccurrence", (s, d) =>
      graft.ops.TextAnalysis.cooccurrence(Tables.documents(s, d), "text"),
      // Same 1/d weights (doc-local position join mirrors the row-local
      // fan-out), DECIMAL weight sums, same total tie order.
      "WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), " +
        "x -> x <> '') AS toks FROM documents WHERE text IS NOT NULL), " +
        "p AS (SELECT doc_id, toks[i] AS w, i FROM t, " +
        "unnest(generate_series(1, len(toks))) AS u(i) WHERE len(toks) >= 2), " +
        "pr AS (SELECT a.w AS w1, b.w AS w2, " +
        "1.0 / CAST(b.i - a.i AS DOUBLE) AS wt FROM p a JOIN p b " +
        "ON a.doc_id = b.doc_id AND b.i > a.i AND b.i <= a.i + 4) " +
        "SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pairs, " +
        "round(CAST(sum(CAST(wt AS DECIMAL(28,10))) AS DOUBLE), 6) AS weight " +
        "FROM pr GROUP BY 1, 2 ORDER BY weight DESC, w1, w2 LIMIT 50"),

    // Tokenizer fertility (TextAnalysis.bpeFertility): BPE tokens per
    // whitespace word per source over the frozen merges artifact — the
    // vocabulary-fit readout before a training run.
    Q("q_bpe_fertility", (s, d) =>
      graft.ops.TextAnalysis.bpeFertility(Tables.documents(s, d),
        "text", "source"),
      // Shared recursive-BPE chain; same word counts and DECIMAL ratio.
      s"WITH RECURSIVE $bpeTokCtes, " +
        "f AS (SELECT a.doc_id, d.source, len(a.toks) AS nb, " +
        "len(list_filter(string_split(d.text, ' '), x -> x <> '')) AS nw " +
        "FROM agg a JOIN documents d USING (doc_id)) " +
        "SELECT source AS grp, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(nw) AS BIGINT) AS n_words, CAST(sum(nb) AS BIGINT) AS n_bpe, " +
        "round(CAST(sum(CAST(nb AS DECIMAL(28,8))) AS DOUBLE) / " +
        "CAST(sum(CAST(nw AS DECIMAL(28,8))) AS DOUBLE), 6) AS fertility " +
        "FROM f WHERE nw > 0 GROUP BY 1 ORDER BY 1"),

    // Dedup savings (TextAnalysis.dedupSavings): what exact keep-first
    // dedup buys per source in docs AND tokens — the number that
    // justifies the dedup stage in a token budget.
    Q("q_dedup_savings", (s, d) =>
      graft.ops.TextAnalysis.dedupSavings(Tables.documents(s, d),
        "doc_id", "text", "source"),
      // Same normalized-text fingerprint, same min-id keeper and per-source
      // token rollup.
      "WITH b AS (SELECT source AS grp, doc_id, " +
        "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp, " +
        "len(list_filter(string_split(text, ' '), x -> x <> '')) AS ntok " +
        "FROM documents WHERE text IS NOT NULL), " +
        "k AS (SELECT fp, min(doc_id) AS keep FROM b GROUP BY 1) " +
        "SELECT grp, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(CASE WHEN doc_id = keep THEN 1 ELSE 0 END) AS BIGINT) AS n_unique, " +
        "CAST(sum(ntok) AS BIGINT) AS tokens_total, " +
        "CAST(sum(CASE WHEN doc_id = keep THEN ntok ELSE 0 END) AS BIGINT) AS tokens_unique, " +
        "round(1.0 - CAST(sum(CASE WHEN doc_id = keep THEN ntok ELSE 0 END) AS DOUBLE) / " +
        "CAST(sum(ntok) AS DOUBLE), 6) AS token_savings " +
        "FROM b JOIN k USING (fp) GROUP BY 1 ORDER BY 1"),

    // Zipf rank-frequency slope (TextAnalysis.zipfSlope): log-log OLS
    // over the top-64 token head of the documents corpus.
    Q("q_zipf_slope", (s, d) =>
      graft.ops.TextAnalysis.zipfSlope(Tables.documents(s, d),
        "text", topN = 64),
      // Mirrors TextAnalysis.zipfSlope (topN 64): same split/unnest
      // tokens, (count DESC, token) head, heapsLaw's exact OLS.
      "WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token " +
        "FROM documents WHERE text IS NOT NULL), " +
        "cnt AS (SELECT token, count(*) AS c FROM tok " +
        "WHERE token <> '' GROUP BY 1), " +
        "head AS (SELECT token, c FROM cnt ORDER BY c DESC, token LIMIT 64), " +
        "rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, token) AS r " +
        "FROM head), " +
        "pts AS (SELECT round(ln(CAST(r AS DOUBLE)), 9) AS x, " +
        "round(ln(CAST(c AS DOUBLE)), 9) AS y FROM rk), " +
        "m AS (SELECT count(*) AS n_head, " +
        "sum(CAST(x AS DECIMAL(28,10))) AS sx, " +
        "sum(CAST(y AS DECIMAL(28,10))) AS sy, " +
        "sum(CAST(x * x AS DECIMAL(28,10))) AS sxx, " +
        "sum(CAST(y * y AS DECIMAL(28,10))) AS syy, " +
        "sum(CAST(x * y AS DECIMAL(28,10))) AS sxy FROM pts), " +
        "f AS (SELECT n_head, CAST(n_head AS DOUBLE) AS n, " +
        "CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy, " +
        "CAST(sxx AS DOUBLE) AS sxx, CAST(syy AS DOUBLE) AS syy, " +
        "CAST(sxy AS DOUBLE) AS sxy FROM m), " +
        "g AS (SELECT n_head, n, sx, sy, n * sxy - sx * sy AS covn, " +
        "n * sxx - sx * sx AS varxn, n * syy - sy * sy AS varyn FROM f) " +
        "SELECT n_head, round(covn / varxn, 6) + 0.0 AS slope, " +
        "round((sy - covn / varxn * sx) / n, 6) + 0.0 AS intercept, " +
        "CASE WHEN varyn > 0 THEN round(covn * covn / (varxn * varyn), 6) " +
        "+ 0.0 END AS r2 FROM g"),

    // Character-class mix per source (TextAnalysis.scriptMix): the
    // corpus-QA dashboard row — letter/digit/space/other fractions.
    Q("q_script_mix", (s, d) =>
      graft.ops.TextAnalysis.scriptMix(Tables.documents(s, d),
        col("source"), "text"),
      // Mirrors TextAnalysis.scriptMix: same 9-dp per-doc class fractions
      // (global-flag regexp_replace deletions), DECIMAL(28,9) group means.
      "WITH b AS (SELECT source AS grp, " +
        "round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) " +
        "AS DOUBLE) / CAST(length(text) AS DOUBLE), 9) AS l, " +
        "round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) " +
        "AS DOUBLE) / CAST(length(text) AS DOUBLE), 9) AS d, " +
        "round(CAST(length(regexp_replace(text, '[^ ]', '', 'g')) " +
        "AS DOUBLE) / CAST(length(text) AS DOUBLE), 9) AS s, " +
        "round(1.0 - CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) " +
        "AS DOUBLE) / CAST(length(text) AS DOUBLE) - " +
        "CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) " +
        "AS DOUBLE) / CAST(length(text) AS DOUBLE) - " +
        "CAST(length(regexp_replace(text, '[^ ]', '', 'g')) " +
        "AS DOUBLE) / CAST(length(text) AS DOUBLE), 9) AS o " +
        "FROM documents WHERE text IS NOT NULL AND length(text) > 0) " +
        "SELECT grp, count(*) AS n_docs, " +
        "round(CAST(sum(CAST(l AS DECIMAL(28,9))) AS DOUBLE) / count(*), 6) " +
        "+ 0.0 AS letter_frac, " +
        "round(CAST(sum(CAST(d AS DECIMAL(28,9))) AS DOUBLE) / count(*), 6) " +
        "+ 0.0 AS digit_frac, " +
        "round(CAST(sum(CAST(s AS DECIMAL(28,9))) AS DOUBLE) / count(*), 6) " +
        "+ 0.0 AS space_frac, " +
        "round(CAST(sum(CAST(o AS DECIMAL(28,9))) AS DOUBLE) / count(*), 6) " +
        "+ 0.0 AS other_frac " +
        "FROM b GROUP BY grp ORDER BY grp"),

    // PII exposure audit per source (TextAnalysis.piiAudit): email/URL
    // hit counts with scrubPii's exact patterns — governance before
    // the scrub runs.
    Q("q_pii_audit", (s, d) =>
      graft.ops.TextAnalysis.piiAudit(Tables.documents(s, d),
        col("source"), "text"),
      // Mirrors TextAnalysis.piiAudit: scrubPii's exact RE2-safe email/URL
      // patterns counted with regexp_extract_all, integer rollups.
      "WITH b AS (SELECT source AS grp, " +
        "CAST(len(regexp_extract_all(text, " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS e, " +
        "CAST(len(regexp_extract_all(text, 'https?://[^\\s]+')) AS BIGINT) AS u " +
        "FROM documents WHERE text IS NOT NULL) " +
        "SELECT grp, count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN e > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_email, " +
        "CAST(sum(CASE WHEN u > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_url, " +
        "CAST(sum(e) AS BIGINT) AS email_hits, CAST(sum(u) AS BIGINT) AS url_hits, " +
        "round(CAST(sum(CASE WHEN e > 0 THEN 1 ELSE 0 END) + " +
        "sum(CASE WHEN u > 0 THEN 1 ELSE 0 END) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) AS affected_rate " +
        "FROM b GROUP BY grp ORDER BY grp"),

    // Symmetric bounded drift between the two corpus halves — the JSD
    // twin of q_kl_drift on the same slices.
    Q("q_js_divergence", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.TextAnalysis.jsDivergence(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "text")
    },
      // Same smoothed vocab join as q_kl_drift, JSD terms.
      evenOddTokenCounts + ", " +
        "j AS (SELECT coalesce(ca.ca, 0) AS ca, coalesce(cb.cb, 0) AS cb " +
        "FROM ca FULL OUTER JOIN cb ON ca.token = cb.token), " +
        "t AS (SELECT sum(ca) AS ta, sum(cb) AS tb, count(*) AS v FROM j), " +
        "p AS (SELECT (ca + 1.0) / (t.ta + t.v) AS pa, " +
        "(cb + 1.0) / (t.tb + t.v) AS pb FROM j CROSS JOIN t) " +
        "SELECT round(CAST(sum(CAST(round(pa * ln(pa / ((pa + pb) / 2.0)) / 2.0 + " +
        "pb * ln(pb / ((pa + pb) / 2.0)) / 2.0, 9) AS DECIMAL(28,14))) " +
        "AS DOUBLE), 6) AS jsd, CAST(count(*) AS BIGINT) AS vocab FROM p"),

    // Near-identical vocabulary pairs scored by the native Jaro-Winkler
    // kernel over the q_token_typos length-banded blocking (all-pairs
    // work on the Heaps-law vocab, never the corpus; the metric runs
    // inside codegen on each blocked candidate).
    Q("q_jaro_winkler", (s, d) => {
      // Planted single-edit typos (the q_token_typos protocol) give the
      // miner targets above the 0.93 gate: JW(customer,customes)=0.95,
      // JW(column,colunn)=0.9333.
      val dirty = when(col("doc_id") % 37 === 0,
          regexp_replace(col("text"), "\\bcustomer\\b", "customes"))
        .when(col("doc_id") % 41 === 0,
          regexp_replace(col("text"), "\\bcolumn\\b", "colunn"))
        .otherwise(col("text"))
      val vocab = Tables.documents(s, d)
        .select(explode(split(dirty, " ")).alias("token"))
        .filter(length(col("token")) >= 4)
        .groupBy("token").agg(count(lit(1)).alias("n"))
      val k = vocab.select(col("token"),
        explode(array(length(col("token")), length(col("token")) + 1))
          .alias("b"))
      val a = k.select(col("b"), col("token").alias("t1"))
      val bb = k.select(col("b"), col("token").alias("t2"))
      val jw = graft.functions.JaroWinkler.jaro_winkler(col("t1"), col("t2"))
      a.join(bb, Seq("b")).filter(col("t1") < col("t2"))
        .filter(jw >= 0.93)
        .select(col("t1"), col("t2"), round(jw, 6).alias("jw")).distinct()
        .orderBy(col("jw").desc, col("t1"), col("t2"))
        .limit(50)
    },
      // DuckDB's jaro_winkler_similarity implements the same textbook
      // definition the kernel pins (0.7 boost threshold) — exact compare.
      "WITH dd AS (SELECT CASE WHEN doc_id % 37 = 0 THEN " +
        "regexp_replace(text, '\\bcustomer\\b', 'customes', 'g') " +
        "WHEN doc_id % 41 = 0 THEN " +
        "regexp_replace(text, '\\bcolumn\\b', 'colunn', 'g') " +
        "ELSE text END AS text FROM documents), " +
        "v AS (SELECT token FROM (SELECT unnest(string_split(text, ' ')) " +
        "AS token FROM dd) WHERE length(token) >= 4 GROUP BY 1), " +
        "k AS (SELECT token, b FROM v, " +
        "UNNEST([length(token), length(token) + 1]) AS u(b)), " +
        "p AS (SELECT a.token AS t1, bb.token AS t2 FROM k a JOIN k bb " +
        "ON a.b = bb.b AND a.token < bb.token) " +
        "SELECT DISTINCT t1, t2, " +
        "round(jaro_winkler_similarity(t1, t2), 6) AS jw FROM p " +
        "WHERE jaro_winkler_similarity(t1, t2) >= 0.93 " +
        "ORDER BY jw DESC, t1, t2 LIMIT 50"),

    // Flesch readability per source (TextAnalysis.readabilityReport):
    // word/sentence/syllable regexp counts at the scan, one aggregation.
    Q("q_readability", (s, d) =>
      graft.ops.TextAnalysis.readabilityReport(Tables.documents(s, d),
        "text", "source"),
      // Word/sentence/vowel-group regexp counts per doc, per-source means
      // of 6-dp-rounded per-doc scores.
      "WITH d AS (SELECT source AS grp, " +
        "len(regexp_extract_all(text, '[A-Za-z]+')) AS w, " +
        "greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s, " +
        "len(regexp_extract_all(lower(text), '[aeiouy]+')) AS y " +
        "FROM documents WHERE text IS NOT NULL), " +
        "f AS (SELECT grp, w, s, y, round(206.835 - " +
        "1.015 * CAST(w AS DOUBLE) / CAST(s AS DOUBLE) - " +
        "84.6 * CAST(y AS DOUBLE) / CAST(w AS DOUBLE), 6) AS fl FROM d WHERE w > 0) " +
        "SELECT grp, count(*) AS n_docs, " +
        "round(CAST(SUM(CAST(w AS DECIMAL(28,8))) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) AS avg_words, " +
        "round(CAST(SUM(CAST(CAST(y AS DOUBLE) / CAST(w AS DOUBLE) " +
        "AS DECIMAL(28,10))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) " +
        "AS avg_syll_per_word, " +
        "round(CAST(SUM(CAST(fl AS DECIMAL(28,10))) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) AS avg_flesch, " +
        "CAST(SUM(CASE WHEN fl < 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_difficult " +
        "FROM f GROUP BY 1 ORDER BY 1"),

    // Character-class / encoding-damage profile per source
    // (TextAnalysis.charsetProfile): the mojibake detector.
    Q("q_charset_profile", (s, d) =>
      graft.ops.TextAnalysis.charsetProfile(Tables.documents(s, d),
        "text", "source"),
      // Character-class counts per doc at the scan, ratio-of-sums per source.
      "WITH d AS (SELECT source AS grp, length(text) AS nc, " +
        "len(regexp_extract_all(text, '[A-Za-z]')) AS l, " +
        "len(regexp_extract_all(text, '[0-9]')) AS dg, " +
        "len(regexp_extract_all(text, '[ \\t\\n\\x0B\\f\\r]')) AS w, " +
        "len(regexp_extract_all(text, '[^\\x00-\\x7F]')) AS na, " +
        "CASE WHEN contains(text, chr(65533)) THEN 1 ELSE 0 END AS repl, " +
        "CASE WHEN len(regexp_extract_all(text, " +
        "'[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]')) > 0 THEN 1 ELSE 0 END AS ctrl " +
        "FROM documents WHERE text IS NOT NULL AND length(text) > 0) " +
        "SELECT grp, count(*) AS n_docs, CAST(SUM(nc) AS BIGINT) AS n_chars, " +
        "round(CAST(SUM(CAST(l AS DECIMAL(28,8))) AS DOUBLE) / " +
        "CAST(SUM(CAST(nc AS DECIMAL(28,8))) AS DOUBLE), 6) AS letter_ratio, " +
        "round(CAST(SUM(CAST(dg AS DECIMAL(28,8))) AS DOUBLE) / " +
        "CAST(SUM(CAST(nc AS DECIMAL(28,8))) AS DOUBLE), 6) AS digit_ratio, " +
        "round(CAST(SUM(CAST(w AS DECIMAL(28,8))) AS DOUBLE) / " +
        "CAST(SUM(CAST(nc AS DECIMAL(28,8))) AS DOUBLE), 6) AS space_ratio, " +
        "round(CAST(SUM(CAST(na AS DECIMAL(28,8))) AS DOUBLE) / " +
        "CAST(SUM(CAST(nc AS DECIMAL(28,8))) AS DOUBLE), 6) AS non_ascii_ratio, " +
        "CAST(SUM(repl) AS BIGINT) AS n_replacement_docs, " +
        "CAST(SUM(ctrl) AS BIGINT) AS n_control_docs " +
        "FROM d GROUP BY 1 ORDER BY 1"),

    // Jelinek-Mercer interpolated bigram LM
    // (TextAnalysis.interpolatedLogProb, λ=0.7): conditional bigram
    // probability mixed with the unigram back-off.
    Q("q_interp_logprob", (s, d) =>
      TextAnalysis.interpolatedLogProb(Tables.documents(s, d), "doc_id",
        "text", lambda = 0.7).orderBy("doc_id"),
      // q_bigram_logprob's CTEs with the JM mix; every arithmetic term is
      // CAST to DOUBLE before the mix so neither engine does DECIMAL
      // division.
      "WITH a AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)), " +
        "i -> toks[i] || ' ' || toks[i+1])) AS big FROM a WHERE len(toks) >= 2), " +
        "bp AS (SELECT doc_id, string_split(big, ' ')[1] AS prev, " +
        "string_split(big, ' ')[2] AS w, big FROM bg), " +
        "cb AS (SELECT big, count(*) AS cb FROM bp GROUP BY 1), " +
        "cu AS (SELECT t, count(*) AS cu FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS t FROM documents) GROUP BY 1), " +
        "nn AS (SELECT CAST(sum(cu) AS BIGINT) AS n FROM cu) " +
        "SELECT bp.doc_id, round(CAST(sum(CAST(round(ln(" +
        "CAST(0.7 AS DOUBLE) * CAST(cb.cb AS DOUBLE) / CAST(cp.cu AS DOUBLE) + " +
        "(CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * CAST(cw.cu AS DOUBLE) / " +
        "CAST(nn.n AS DOUBLE)), 9) AS DECIMAL(28,14))) AS DOUBLE) / count(*), 6) " +
        "AS logprob FROM bp JOIN cb USING (big) " +
        "JOIN cu cp ON cp.t = bp.prev JOIN cu cw ON cw.t = bp.w " +
        "CROSS JOIN nn GROUP BY 1 ORDER BY 1"),

    // text LM: Kneser-Ney interpolated bigram score (D=0.75) — absolute
    // discount plus continuation-probability back-off, the smoothing
    // shipped n-gram LMs use; top rung of the perplexity-filter ladder.
    Q("q_kneser_ney", (s, d) =>
      TextAnalysis.kneserNeyLogProb(Tables.documents(s, d), "doc_id",
        "text").orderBy("doc_id"),
      // Mirrors TextAnalysis.kneserNeyLogProb (D=0.75): bigram-prefix
      // denominators, distinct-type continuation counts, DECIMAL sums.
      "WITH a AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)), " +
        "i -> toks[i] || ' ' || toks[i+1])) AS big FROM a WHERE len(toks) >= 2), " +
        "bp AS (SELECT doc_id, string_split(big, ' ')[1] AS prev, " +
        "string_split(big, ' ')[2] AS w, big FROM bg), " +
        "cb AS (SELECT big, count(*) AS cb FROM bp GROUP BY 1), " +
        "cp AS (SELECT prev, count(*) AS cp FROM bp GROUP BY 1), " +
        "ty AS (SELECT DISTINCT big, prev, w FROM bp), " +
        "np AS (SELECT prev, count(*) AS n1p_prev FROM ty GROUP BY 1), " +
        "nw AS (SELECT w, count(*) AS n1p_w FROM ty GROUP BY 1), " +
        "nt AS (SELECT count(*) AS n1p_tot FROM ty) " +
        "SELECT bp.doc_id, round(CAST(sum(CAST(round(ln(" +
        "(CAST(cb.cb AS DOUBLE) - 0.75) / CAST(cp.cp AS DOUBLE) + " +
        "(0.75 * CAST(np.n1p_prev AS DOUBLE) / CAST(cp.cp AS DOUBLE)) * " +
        "(CAST(nw.n1p_w AS DOUBLE) / CAST(nt.n1p_tot AS DOUBLE))" +
        "), 9) AS DECIMAL(28,14))) AS DOUBLE) / count(*), 6) " +
        "AS logprob FROM bp JOIN cb USING (big) JOIN cp USING (prev) " +
        "JOIN np USING (prev) JOIN nw USING (w) " +
        "CROSS JOIN nt GROUP BY 1 ORDER BY 1"),

    // Lexical richness (TextAnalysis.lexicalRichness): TTR + hapax
    // share per source — the template detector.
    Q("q_lexical_richness", (s, d) =>
      TextAnalysis.lexicalRichness(Tables.documents(s, d), "text",
        "source"),
      "WITH c AS (SELECT source, t, count(*) AS c FROM " +
        "(SELECT source, unnest(string_split(text, ' ')) AS t FROM documents) " +
        "WHERE t <> '' GROUP BY 1, 2), " +
        "g AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens, " +
        "count(*) AS n_types, " +
        "CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax " +
        "FROM c GROUP BY 1) " +
        "SELECT source, n_tokens, n_types, " +
        "round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) " +
        "AS type_token_ratio, " +
        "round(CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE), 6) " +
        "AS hapax_share FROM g ORDER BY 1"),

    // Token repeat rate (TextAnalysis.repeatRate): Yule's K and
    // Simpson's D per source — the length-robust template detector
    // beside q_lexical_richness's TTR/hapax view.
    Q("q_repeat_rate", (s, d) =>
      TextAnalysis.repeatRate(Tables.documents(s, d), "source", "text"),
      // Same (source, token) count collapse as q_lexical_richness; f^2
      // pre-widened through DECIMAL(19,0) so the product sums exactly in
      // DECIMAL(38,0); yule_k readout signed-zero-safe.
      "WITH c AS (SELECT source, t, count(*) AS c FROM " +
        "(SELECT source, unnest(string_split(text, ' ')) AS t FROM documents) " +
        "WHERE t <> '' GROUP BY 1, 2), " +
        "g AS (SELECT source, count(*) AS n_types, " +
        "CAST(SUM(c) AS BIGINT) AS n_tokens, " +
        "SUM(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))) AS s2 " +
        "FROM c GROUP BY 1) " +
        "SELECT source, n_tokens, n_types, " +
        "round(1.0e4 * (CAST(s2 AS DOUBLE) - CAST(n_tokens AS DOUBLE)) / " +
        "(CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)), 6) + 0.0 AS yule_k, " +
        "CASE WHEN n_tokens > 1 THEN " +
        "round((CAST(s2 AS DOUBLE) - CAST(n_tokens AS DOUBLE)) / " +
        "(CAST(n_tokens AS DOUBLE) * (CAST(n_tokens AS DOUBLE) - 1.0)), 6) " +
        "END AS simpson_d FROM g ORDER BY source"),

    // Distinct-n diversity (TextAnalysis.ngramDiversity): unique/total
    // unigrams and adjacent bigrams per source — the transition-level
    // template detector TTR misses.
    Q("q_ngram_diversity", (s, d) =>
      TextAnalysis.ngramDiversity(Tables.documents(s, d), "source", "text"),
      // Same row-local bigram construction as q_collocations (space join
      // is unambiguous: tokens cannot contain the separator); LEFT JOIN
      // mirrors the no-bigram-group NULL columns.
      "WITH toks AS (SELECT source, string_split(text, ' ') AS tk " +
        "FROM documents), " +
        "u AS (SELECT source, CAST(count(*) AS BIGINT) AS n_unigrams, " +
        "CAST(count(DISTINCT t) AS BIGINT) AS d_unigrams FROM " +
        "(SELECT source, unnest(tk) AS t FROM toks) WHERE t <> '' " +
        "GROUP BY source), " +
        "b AS (SELECT source, CAST(count(*) AS BIGINT) AS n_bigrams, " +
        "CAST(count(DISTINCT bg) AS BIGINT) AS d_bigrams FROM " +
        "(SELECT source, tk[i] || ' ' || tk[i + 1] AS bg FROM toks, " +
        "unnest(generate_series(1, len(tk) - 1)) AS u(i) " +
        "WHERE len(tk) >= 2) GROUP BY source) " +
        "SELECT u.source, n_unigrams, d_unigrams, " +
        "round(CAST(d_unigrams AS DOUBLE) / CAST(n_unigrams AS DOUBLE), 6) " +
        "+ 0.0 AS distinct_1, n_bigrams, d_bigrams, " +
        "round(CAST(d_bigrams AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 6) " +
        "+ 0.0 AS distinct_2 FROM u LEFT JOIN b ON u.source = b.source " +
        "ORDER BY u.source"),
  )

  /** Query batch shared by q_bm25_topk and its oracle (terms drawn from
    * the fixture vocabulary). */
  private lazy val Bm25Queries = Seq(
    ("qa", "hash join"), ("qb", "fast scan table"), ("qc", "window agg query"))


  /** Unigram counts of the even- and odd-`doc_id` document slices: CTEs
    * `ta`/`tb` (one row per token) and `ca`/`cb` (token, count). */
  private def evenOddTokenCounts: String =
    "WITH ta AS (SELECT unnest(string_split(text, ' ')) AS token " +
      "FROM documents WHERE doc_id % 2 = 0), " +
      "tb AS (SELECT unnest(string_split(text, ' ')) AS token " +
      "FROM documents WHERE doc_id % 2 = 1), " +
      "ca AS (SELECT token, count(*) AS ca FROM ta WHERE token <> '' GROUP BY 1), " +
      "cb AS (SELECT token, count(*) AS cb FROM tb WHERE token <> '' GROUP BY 1)"

  /** Planted-boilerplate text shared by the repetition-quality mirrors:
    * every third doc gets its first 40 chars appended twice as duplicate
    * "lines" (must match the Spark-side `dirty` construction exactly). */
  private lazy val DirtyText: String =
    "CASE WHEN doc_id % 3 = 0 THEN text || chr(10) || substr(text, 1, 40) " +
      "|| chr(10) || substr(text, 1, 40) ELSE text END"

  private def bpeOracle: String =
    s"WITH RECURSIVE $bpeTokCtes " +
      "SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_bpe, " +
      "array_to_string(toks[1:10], '|') AS head_toks FROM agg ORDER BY doc_id"

  private def llmPrepFullOracle: String = {
    val mergeVals = graft.ops.TextAnalysis.DefaultBpeMerges.zipWithIndex
      .map { case ((a, b), i) => s"(${i + 1},'$a','$b')" }.mkString(",")
    s"WITH RECURSIVE merges(rank, a, b) AS (VALUES $mergeVals), " +
      llmPrepKeptCtes + ", " +
      "m AS (SELECT * FROM k WHERE ('0x' || substr(md5(source || '|' || CAST(doc_id AS VARCHAR) || '#0'), 1, 8))::BIGINT " +
      "< (CASE WHEN source = 'src1' THEN 0.25 WHEN source = 'src0' THEN 0.5 ELSE 1.0 END) * 4294967296.0), " +
      "t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM m), " +
      "w0 AS (SELECT doc_id, unnest(toks) AS w, unnest(range(1, len(toks) + 1)) AS wi FROM t), " +
      "w AS (SELECT doc_id, wi, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS s FROM w0 WHERE w <> ''), " +
      "bpe AS (SELECT doc_id, wi, s FROM w " +
      "UNION ALL " +
      "SELECT doc_id, wi, regexp_replace(s, ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ') " +
      "FROM (SELECT doc_id, wi, s, a, b, row_number() OVER (PARTITION BY doc_id, wi ORDER BY rank) AS rn " +
      "FROM bpe JOIN merges ON contains(s, ' ' || a || ' ' || b || ' ')) WHERE rn = 1), " +
      "fin AS (SELECT doc_id, wi, trim(s) AS s FROM bpe b WHERE NOT EXISTS " +
      "(SELECT 1 FROM merges mm WHERE contains(b.s, ' ' || mm.a || ' ' || mm.b || ' '))), " +
      "agg AS (SELECT doc_id, string_split(string_agg(s, ' ' ORDER BY wi), ' ') AS toks FROM fin GROUP BY doc_id) " +
      "SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_bpe FROM agg ORDER BY doc_id"
  }

  /** Unrolled TextRank: [[collocations]]-style bigram edges (both
    * directions) fed through the identical unrolled-PageRank rounds as
    * [[pagerankOracle]]. Base CTEs MATERIALIZED so the three rounds scan
    * documents once ([[kcoreOracle]]'s fd lesson). */
  private def textrankOracle: String = {
    val oneMinusD = (1.0 - 0.85).toString
    val sb = new StringBuilder
    sb ++= "WITH base AS MATERIALIZED (SELECT string_split(text, ' ') AS toks " +
      "FROM documents), "
    sb ++= "bg AS (SELECT toks[i] AS w1, toks[i + 1] AS w2 FROM base, " +
      "unnest(generate_series(1, len(toks) - 1)) AS u(i) " +
      "WHERE len(toks) >= 2 AND toks[i] <> toks[i + 1]), "
    sb ++= "cb AS MATERIALIZED (SELECT w1, w2, count(*) AS w FROM bg GROUP BY 1, 2), "
    sb ++= "ed AS MATERIALIZED (SELECT w1 AS src, w2 AS dst, w FROM cb " +
      "UNION ALL SELECT w2 AS src, w1 AS dst, w FROM cb), "
    sb ++= "nd AS MATERIALIZED (SELECT src AS node FROM ed UNION SELECT dst AS node FROM ed), "
    sb ++= "nn AS (SELECT count(*) AS n FROM nd), "
    sb ++= "ow AS (SELECT src, sum(w) AS outw FROM ed GROUP BY 1), "
    sb ++= "r0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS rank FROM nd CROSS JOIN nn), "
    for (t <- 1 to 3) {
      sb ++= s"c$t AS (SELECT ed.dst AS node, CAST(r.rank * ed.w / ow.outw AS DECIMAL(28,14)) AS c " +
        s"FROM ed JOIN ow ON ed.src = ow.src JOIN r${t - 1} r ON r.node = ed.src), "
      sb ++= s"s$t AS (SELECT node, sum(c) AS cs FROM c$t GROUP BY 1), "
      sb ++= s"r$t AS (SELECT nd.node, round($oneMinusD / CAST(nn.n AS DOUBLE) + " +
        s"0.85 * coalesce(CAST(s$t.cs AS DOUBLE), 0), 9) AS rank " +
        s"FROM nd CROSS JOIN nn LEFT JOIN s$t ON nd.node = s$t.node), "
    }
    sb.setLength(sb.length - 2)
    sb ++= " SELECT node AS token, round(rank, 6) AS rank FROM r3 " +
      "ORDER BY rank DESC, token LIMIT 30"
    sb.toString
  }

  /** Mirror of TextAnalysis.bm25TopK (k1=1.2, b=0.75, k=5): identical
    * arithmetic shape — idf·(tf·(k1+1))/(tf + k1·(1−b + b·dl/avgdl)) with
    * DECIMAL(28,14) contribution sums — so the 6-dp score matches Spark
    * bit-for-bit and the rank window ties break on doc_id identically. */
  /** Shared CTE chain for the BM25 retrieval queries (q_bm25_topk and
    * the q_rank_eval run it evaluates): query batch → token postings →
    * per-(query, doc) BM25 scores → `ranked` with the same
    * (score DESC, doc_id) tie order the Spark window uses. */
  private def bm25Ctes: String = {
    val values = Bm25Queries
      .map { case (id, t) => s"('$id', '$t')" }.mkString(", ")
    val k1p1 = (1.2 + 1.0).toString   // same double the Spark side uses
    s"q(query_id, qtext) AS (VALUES $values), " +
      "qt AS (SELECT DISTINCT query_id, unnest(string_split(qtext, ' ')) AS token FROM q), " +
      "qv AS (SELECT DISTINCT token FROM qt), " +
      "dlen AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents), " +
      "tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents), " +
      "tf AS (SELECT doc_id, token, count(*) AS tf FROM tok JOIN qv USING (token) GROUP BY 1, 2), " +
      "dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1), " +
      "stats AS (SELECT count(*) AS n_docs, avg(len(string_split(text, ' '))) AS avgdl FROM documents), " +
      "sc AS (SELECT qt.query_id, tf.doc_id, round(CAST(sum(CAST(" +
      // per-term contribution pinned to 9 dp (the op's cross-libm
      // transcendental-output stance; idf carries a libm ln)
      "round(ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)) * " +
      // CAST keeps the multiply in double domain: BIGINT×DECIMAL would be
      // exact decimal then one conversion — off Spark's double×double by
      // an ulp on some tf values
      s"(tf.tf * CAST($k1p1 AS DOUBLE)) / " +
      "(tf.tf + 1.2 * (0.25 + 0.75 * dlen.dl / stats.avgdl)), 9) " +
      "AS DECIMAL(28,14))) AS DOUBLE), 6) AS score " +
      "FROM tf JOIN qt USING (token) JOIN dfreq USING (token) " +
      "JOIN dlen ON dlen.doc_id = tf.doc_id CROSS JOIN stats GROUP BY 1, 2), " +
      "ranked AS (SELECT *, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn FROM sc)"
  }

  private def bm25Oracle: String =
    s"WITH $bm25Ctes SELECT query_id, doc_id, score, " +
      "CAST(rn AS BIGINT) AS rank FROM ranked " +
      "WHERE rn <= 5 ORDER BY query_id, rank"

  /** Mirror of TextAnalysis.rakeKeywords (topK=20, maxWords=3): the same
    * lowercase → break-marker → stopword-break normalization (RE2-safe,
    * global regexp_replace), the same degree/frequency word scores with
    * explicit DOUBLE division, DECIMAL(28,14) phrase-score sums, and the
    * (score DESC, phrase) cut order. */
  private def rakeOracle: String = {
    val stops = graft.ops.TextAnalysis.RakeStopwords
      .map(s => s"'$s'").mkString(", ")
    "WITH ph0 AS MATERIALIZED (SELECT trim(p) AS phrase FROM (" +
      "SELECT unnest(string_split_regex(array_to_string(list_transform(" +
      "list_filter(string_split_regex(" +
      // whitespace KEPT by the break-marker replace (it separates words
      // within a phrase); explicit class matching the Spark side
      "regexp_replace(lower(text), '[^a-z \\t\\n\\f\\r]+', ' 0 ', 'g'), " +
      "'[ \\t\\n\\f\\r]+'), " +
      "t -> len(t) > 0), " +
      s"t -> CASE WHEN t = '0' OR t IN ($stops) THEN '|' ELSE t END), " +
      "' '), '[ ]*\\|[ ]*')) AS p FROM documents) WHERE len(trim(p)) > 0), " +
      "ph AS MATERIALIZED (SELECT phrase FROM ph0 " +
      "WHERE len(string_split(phrase, ' ')) <= 3), " +
      "ws AS (SELECT word, CAST(sum(l) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS ws " +
      "FROM (SELECT unnest(string_split(phrase, ' ')) AS word, " +
      "len(string_split(phrase, ' ')) AS l FROM ph) GROUP BY 1), " +
      "cnt AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences " +
      "FROM ph GROUP BY 1), " +
      "pw AS (SELECT cnt.phrase, cnt.n_occurrences, u.word " +
      "FROM cnt, unnest(string_split(cnt.phrase, ' ')) AS u(word)), " +
      "sc AS (SELECT p.phrase, p.n_occurrences, " +
      "round(CAST(sum(CAST(w.ws AS DECIMAL(28,14))) AS DOUBLE), 6) AS score " +
      "FROM pw p JOIN ws w ON w.word = p.word GROUP BY 1, 2) " +
      "SELECT phrase, n_occurrences, score FROM sc " +
      "ORDER BY score DESC, phrase LIMIT 20"
  }

  /** Mirror of TextAnalysis.qlmTopK (μ=2000, k=5): same hit-postings
    * decomposition — Σ ln(1 + tf/(μ·cf/|C|)) over matching terms plus
    * n_q·ln(μ/(dl+μ)) — with the same DECIMAL(28,14) contribution sums,
    * 6-dp rounding before the rank window, and (score DESC, doc_id)
    * tie order. */
  private def qlmOracle: String = {
    val values = Bm25Queries
      .map { case (id, t) => s"('$id', '$t')" }.mkString(", ")
    val mu = 2000.0.toString   // same double literal the Spark side uses
    s"WITH q(query_id, qtext) AS (VALUES $values), " +
      "qt AS (SELECT DISTINCT query_id, unnest(string_split(qtext, ' ')) AS token FROM q), " +
      "qv AS (SELECT DISTINCT token FROM qt), " +
      "tok AS (SELECT doc_id, len(string_split(text, ' ')) AS dl, " +
      "unnest(string_split(text, ' ')) AS token FROM documents), " +
      "hits AS (SELECT doc_id, dl, token FROM tok JOIN qv USING (token)), " +
      "cf AS (SELECT token, count(*) AS cf FROM hits GROUP BY 1), " +
      "ctot AS (SELECT CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS c_len FROM documents), " +
      "nq AS (SELECT query_id, count(*) AS nq FROM qt JOIN cf USING (token) GROUP BY 1), " +
      "tf AS (SELECT doc_id, token, count(*) AS tf, max(dl) AS dl " +
      "FROM hits GROUP BY 1, 2), " +
      "sq AS (SELECT qt.query_id, tf.doc_id, CAST(sum(CAST(" +
      s"round(ln(1.0 + tf.tf::DOUBLE / ($mu * (cf.cf::DOUBLE / ctot.c_len::DOUBLE))), 9) " +
      "AS DECIMAL(28,14))) AS DOUBLE) AS s, max(tf.dl) AS dl " +
      "FROM tf JOIN qt USING (token) JOIN cf USING (token) " +
      "CROSS JOIN ctot GROUP BY 1, 2), " +
      "scored AS (SELECT sq.query_id, doc_id, " +
      s"round(s + nq.nq::DOUBLE * ln($mu / (dl::DOUBLE + $mu)), 6) AS score " +
      "FROM sq JOIN nq USING (query_id)) " +
      "SELECT query_id, doc_id, score, CAST(rn AS BIGINT) AS rank FROM " +
      "(SELECT *, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn FROM scored) " +
      "WHERE rn <= 5 ORDER BY query_id, rank"
  }

  /** Mirror of TextAnalysis.rankBiasedOverlap over the BM25 vs QLM runs:
    * [[bm25Ctes]]' `ranked` beside an l_-prefixed replay of [[qlmOracle]]
    * (shared q/qt/qv/tok/dlen CTEs), then prefix-overlap fan-out and the
    * SAME precomputed IEEE weight literals ([[graft.ops.Sessionize]]'s
    * ewmaWeights stance) with 12-dp term rounds into a DECIMAL sum. */
  private def rboOracle: String = {
    val weights = (1 to 5).map(d => (1 - 0.9) * math.pow(0.9, d - 1))
    val wcase = weights.zipWithIndex
      .map { case (w, i) => s"WHEN g.d = ${i + 1} THEN CAST('$w' AS DOUBLE)" }
      .mkString(" ")
    val mu = 2000.0.toString
    s"WITH $bm25Ctes, " +
      "l_hits AS (SELECT t.doc_id, d.dl, t.token FROM tok t " +
      "JOIN qv USING (token) JOIN dlen d ON d.doc_id = t.doc_id), " +
      "l_cf AS (SELECT token, count(*) AS cf FROM l_hits GROUP BY 1), " +
      "l_ctot AS (SELECT CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS c_len FROM documents), " +
      "l_nq AS (SELECT query_id, count(*) AS nq FROM qt JOIN l_cf USING (token) GROUP BY 1), " +
      "l_tf AS (SELECT doc_id, token, count(*) AS tf, max(dl) AS dl " +
      "FROM l_hits GROUP BY 1, 2), " +
      "l_sq AS (SELECT qt.query_id, l_tf.doc_id, CAST(sum(CAST(" +
      s"round(ln(1.0 + l_tf.tf::DOUBLE / ($mu * (l_cf.cf::DOUBLE / l_ctot.c_len::DOUBLE))), 9) " +
      "AS DECIMAL(28,14))) AS DOUBLE) AS s, max(l_tf.dl) AS dl " +
      "FROM l_tf JOIN qt USING (token) JOIN l_cf USING (token) " +
      "CROSS JOIN l_ctot GROUP BY 1, 2), " +
      "l_scored AS (SELECT l_sq.query_id, doc_id, " +
      s"round(s + l_nq.nq::DOUBLE * ln($mu / (dl::DOUBLE + $mu)), 6) AS score " +
      "FROM l_sq JOIN l_nq USING (query_id)), " +
      "l_ranked AS (SELECT *, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn FROM l_scored), " +
      "ra AS (SELECT query_id, doc_id, CAST(rn AS BIGINT) AS r1 FROM ranked WHERE rn <= 5), " +
      "rb AS (SELECT query_id, doc_id, CAST(rn AS BIGINT) AS r2 FROM l_ranked WHERE rn <= 5), " +
      "ov AS (SELECT ra.query_id, greatest(ra.r1, rb.r2) AS m " +
      "FROM ra JOIN rb USING (query_id, doc_id)), " +
      "xd AS (SELECT query_id, d, count(*) AS x FROM ov, " +
      "unnest(generate_series(m, 5)) AS u(d) GROUP BY 1, 2), " +
      "qs AS (SELECT query_id FROM ra UNION SELECT query_id FROM rb), " +
      "gd AS (SELECT query_id, d FROM qs, unnest(generate_series(1, 5)) AS u(d)), " +
      "tm AS (SELECT g.query_id, g.d, coalesce(x.x, 0) AS x, " +
      s"CASE $wcase END AS w " +
      "FROM gd g LEFT JOIN xd x ON g.query_id = x.query_id AND g.d = x.d) " +
      "SELECT query_id, CAST(max(CASE WHEN d = 5 THEN x END) AS BIGINT) AS overlap_at_k, " +
      "round(CAST(sum(CAST(round(w * (CAST(x AS DOUBLE) / CAST(d AS DOUBLE)), 12) " +
      "AS DECIMAL(28,12))) AS DOUBLE), 6) AS rbo " +
      "FROM tm GROUP BY 1 ORDER BY query_id"
  }

  /** Mirror of TextAnalysis.rankingEval over the BM25 run ([[bm25Ctes]]'
    * `ranked`, k=5) with graded relevance = count of distinct query terms
    * in the doc: same 2^rel−1 gains, log2 discounts, DECIMAL(28,14)
    * sums, (rel DESC, doc_id) ideal order, and the 0-not-NULL convention
    * for no-relevant-doc queries. */
  private def rankEvalOracle: String =
    s"WITH $bm25Ctes, " +
      "run AS (SELECT query_id, doc_id, rn AS rank FROM ranked WHERE rn <= 5), " +
      "relv AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS rel " +
      "FROM (SELECT DISTINCT qt.query_id, t.doc_id, t.token " +
      "FROM tok t JOIN qt USING (token)) GROUP BY 1, 2), " +
      "topk AS (SELECT r.query_id, r.doc_id, r.rank, " +
      "coalesce(v.rel, 0) AS rel FROM run r LEFT JOIN relv v " +
      "ON v.query_id = r.query_id AND v.doc_id = r.doc_id), " +
      "dcg AS (SELECT query_id, CAST(sum(CAST(" +
      "round((pow(2.0, rel::DOUBLE) - 1.0) / log2(rank::DOUBLE + 1.0), 9) " +
      "AS DECIMAL(28,14))) AS DOUBLE) AS dcg FROM topk GROUP BY 1), " +
      "ideal AS (SELECT query_id, rel, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY rel DESC, doc_id) AS irank " +
      "FROM relv WHERE rel > 0), " +
      "idcg AS (SELECT query_id, CAST(sum(CAST(" +
      "round((pow(2.0, rel::DOUBLE) - 1.0) / log2(irank::DOUBLE + 1.0), 9) " +
      "AS DECIMAL(28,14))) AS DOUBLE) AS idcg " +
      "FROM ideal WHERE irank <= 5 GROUP BY 1), " +
      "bin AS (SELECT query_id, rank, " +
      "CASE WHEN rel > 0 THEN 1 ELSE 0 END AS hit, " +
      "sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) OVER " +
      "(PARTITION BY query_id ORDER BY rank " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumhits " +
      "FROM topk), " +
      "bs AS (SELECT query_id, CAST(sum(CASE WHEN hit = 1 THEN " +
      "CAST(cumhits::DOUBLE / rank::DOUBLE AS DECIMAL(28,14)) END) " +
      "AS DOUBLE) AS sumprec, " +
      "min(CASE WHEN hit = 1 THEN rank END) AS firsthit " +
      "FROM bin GROUP BY 1), " +
      "rb AS (SELECT query_id, count(*) AS r FROM relv WHERE rel > 0 GROUP BY 1) " +
      "SELECT d.query_id, round(d.dcg, 6) AS dcg, " +
      "round(coalesce(i.idcg, 0.0), 6) AS idcg, " +
      "round(CASE WHEN coalesce(i.idcg, 0.0) > 0 THEN d.dcg / i.idcg " +
      "ELSE 0.0 END, 6) AS ndcg, " +
      "round(CASE WHEN rb.r IS NOT NULL THEN " +
      "coalesce(bs.sumprec, 0.0) / least(rb.r, 5)::DOUBLE " +
      "ELSE 0.0 END, 6) AS ap, " +
      "round(CASE WHEN bs.firsthit IS NOT NULL THEN " +
      "1.0 / bs.firsthit::DOUBLE ELSE 0.0 END, 6) AS rr " +
      "FROM dcg d LEFT JOIN idcg i USING (query_id) " +
      "LEFT JOIN bs USING (query_id) LEFT JOIN rb USING (query_id) " +
      "ORDER BY d.query_id"
}
