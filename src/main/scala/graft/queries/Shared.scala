package graft
package queries

/** Oracle SQL fragments shared by more than one query family. */
object Shared {
  /** DuckDB mirror of ScaleDedup.minhashSignature's md5-slice scheme: hash
    * i = 32-bit slice i%4 of md5(token salted with "#"+i/4; no salt for the
    * first group). */
  private[queries] def mhExpr(i: Int): String = {
    val salted = if (i / 4 == 0) "x" else s"(x || '#${i / 4}')"
    s"list_min(list_transform(toks, x -> (('0x' || substr(md5($salted), ${(i % 4) * 8 + 1}, 8))::BIGINT)))"
  }

  /** Shared DuckDB CTE chain mirroring ScaleDedup.minhashCandidatePairs
    * (4 hashes, 2 bands, oversized buckets > 64 dropped before the band
    * self-join): yields `t` (doc_id, toks) and `pairs` (id1, id2).
    * Parameterized by the source relation so composites can run the pair
    * pipeline over an upstream CTE instead of the raw table. */
  private[queries] def mhPairsCtesOver(tbl: String): String =
    s"t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM $tbl), " +
      s"sig AS (SELECT doc_id, ${mhExpr(0)} AS mh_0, ${mhExpr(1)} AS mh_1, " +
      s"${mhExpr(2)} AS mh_2, ${mhExpr(3)} AS mh_3 FROM t), " +
      "b AS (SELECT doc_id, 0 AS band, mh_0 || '_' || mh_1 AS bkey FROM sig " +
      "UNION ALL SELECT doc_id, 1 AS band, mh_2 || '_' || mh_3 AS bkey FROM sig), " +
      "bg AS (SELECT doc_id, band, bkey FROM b " +
      "QUALIFY count(*) OVER (PARTITION BY band, bkey) <= 64), " +
      "pairs AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2 FROM bg x JOIN bg y " +
      "ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)"

  private[queries] def mhPairsCtes: String = mhPairsCtesOver("documents")

  /** DuckDB mirror of q_bpe_tokens: the merges table as a VALUES CTE and
    * the kernel's merge loop as a RECURSIVE CTE — each step finds the
    * lowest-rank pair present in a word's " a b c " symbol string and
    * replaces its first (leftmost) occurrence; a word's chain terminates
    * when no listed pair remains. Exactly the kernel's semantics (one
    * merge per step, full rescan), which is why that formulation was
    * chosen over GPT-2's merge-all-per-round. */
  /** The merges-table + per-word recursive-merge CTE chain shared by the
    * BPE oracles, ending in `agg` (doc_id, toks = the document's BPE
    * token list). */
  private[queries] def bpeTokCtes: String = {
    val mergeVals = graft.ops.TextAnalysis.DefaultBpeMerges.zipWithIndex
      .map { case ((a, b), i) => s"(${i + 1},'$a','$b')" }.mkString(",")
    s"merges(rank, a, b) AS (VALUES $mergeVals), " +
      "t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
      "w0 AS (SELECT doc_id, unnest(toks) AS w, unnest(range(1, len(toks) + 1)) AS wi FROM t), " +
      "w AS (SELECT doc_id, wi, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS s " +
      "FROM w0 WHERE w <> ''), " +
      "bpe AS (SELECT doc_id, wi, s FROM w " +
      "UNION ALL " +
      "SELECT doc_id, wi, regexp_replace(s, ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ') " +
      "FROM (SELECT doc_id, wi, s, a, b, " +
      "row_number() OVER (PARTITION BY doc_id, wi ORDER BY rank) AS rn " +
      "FROM bpe JOIN merges ON contains(s, ' ' || a || ' ' || b || ' ')) WHERE rn = 1), " +
      "fin AS (SELECT doc_id, wi, trim(s) AS s FROM bpe b WHERE NOT EXISTS " +
      "(SELECT 1 FROM merges m WHERE contains(b.s, ' ' || m.a || ' ' || m.b || ' '))), " +
      "agg AS (SELECT doc_id, string_split(string_agg(s, ' ' ORDER BY wi), ' ') AS toks " +
      "FROM fin GROUP BY doc_id)"
  }

  /** DuckDB mirror of q_llm_prep_full: each stage's CTE reuses the SQL of
    * its single-operator oracle (quality+repetition = q_quality_filter's
    * CTEs on raw text, lang = q_lang_id's en branch, decontamination =
    * q_decontaminate's shingle CTEs with the corpus restricted to the
    * language survivors, dedup = q_dedup_exact's fingerprint, mix =
    * q_domain_mix's threshold, BPE = q_bpe_tokens' recursive CTE over the
    * final survivors). */
  /** Shared CTE chain of the flagship composites — quality+repetition
    * gate → language filter → 13-gram decontamination → exact-dedup
    * canonical — ending in `k` (doc_id, text, source), the corpus the
    * final stages (mix/BPE in v2, fuzzy dedup in v3) consume. */
  private[queries] def llmPrepKeptCtes: String =
    "f0 AS (SELECT doc_id, text, source, string_split(text, ' ') AS toks, " +
      "string_split(text, chr(10)) AS lines FROM documents), " +
      "f1 AS (SELECT doc_id, text, source, toks, lines, " +
      "list_transform(range(0, greatest(len(toks) - 2, 0) + 1), " +
      "i -> array_to_string(toks[i+1:i+2], ' ')) AS grams FROM f0), " +
      "f AS (SELECT doc_id, text, source, len(toks) AS n_tok, " +
      s"round(CAST(len(list_filter(string_split(lower(text), ' '), x -> x IN $EnStop)) AS DOUBLE) / len(toks), 6) AS stop_ratio, " +
      "round(CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines), 6) AS dup_ratio, " +
      "round(CAST(list_max(list_transform(list_distinct(grams), " +
      "gg -> length(gg) * len(list_filter(grams, x -> x = gg)))) AS DOUBLE) / length(text), 6) AS top2_ratio " +
      "FROM f1), " +
      "q AS (SELECT doc_id, text, source FROM f WHERE n_tok BETWEEN 8 AND 100000 " +
      "AND stop_ratio >= 0.01 AND dup_ratio <= 0.2 AND top2_ratio <= 0.2), " +
      "lx AS (SELECT doc_id, text, source, " +
      s"len(list_filter(string_split(lower(text), ' '), x -> x IN $EnStop)) AS n_en, " +
      s"len(list_filter(string_split(lower(text), ' '), x -> x IN $DeStop)) AS n_de, " +
      s"len(list_filter(string_split(lower(text), ' '), x -> x IN $FrStop)) AS n_fr, " +
      s"len(list_filter(string_split(lower(text), ' '), x -> x IN $EsStop)) AS n_es FROM q), " +
      "l AS (SELECT doc_id, text, source FROM lx WHERE n_en > 0 AND n_en = greatest(n_en, n_de, n_fr, n_es)), " +
      "sh AS (SELECT doc_id, list_transform(list_distinct(list_transform(" +
      "range(0, greatest(len(string_split(text, ' ')) - 13, 0) + 1), " +
      "i -> array_to_string(string_split(text, ' ')[i+1:i+13], ' '))), " +
      "s -> ('0x' || substr(md5(s || '#0'), 1, 8))::BIGINT) AS hs FROM documents), " +
      "ev AS (SELECT DISTINCT unnest(hs) AS h FROM sh WHERE doc_id % 37 = 0), " +
      "bad AS (SELECT DISTINCT doc_id FROM (SELECT s.doc_id, unnest(s.hs) AS h FROM sh s " +
      "JOIN l ON s.doc_id = l.doc_id) x WHERE h IN (SELECT h FROM ev)), " +
      "dc AS (SELECT * FROM l WHERE doc_id NOT IN (SELECT doc_id FROM bad)), " +
      "c AS (SELECT min(doc_id) AS doc_id FROM (SELECT doc_id, " +
      "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp FROM dc) GROUP BY fp), " +
      "k AS (SELECT dc.* FROM dc JOIN c USING (doc_id))"

  private[queries] lazy val EnStop = "('the','of','and','a','to','in','is')"

  private[queries] lazy val DeStop = "('der','die','das','und','ist','nicht')"

  private[queries] lazy val FrStop = "('le','la','les','et','est','dans')"

  private[queries] lazy val EsStop = "('el','los','las','es','en','una')"
}
