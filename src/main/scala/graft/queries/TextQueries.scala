package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.operators.{Dedup, Multimodal, Sampling, Similarity}

import Oracle.{SameAs, Sql}
import Shared._

/** Text and vector queries: text pipeline, dedup, similarity search,
  * sketches and linkage.
  */
private[queries] object TextQueries extends Family {
  /** Positional inverted index + exact phrase query
    * ([[graft.operators.TextPipeline.positionalIndex]] /
    * [[TextPipeline.phraseMatch]]): the corpus indexes once (term-
    * partitioned position lists), then the phrase — doc 0's own first
    * two words, so it exists at every SF — resolves by intersecting
    * shifted position arrays over only the phrase's term rows. The
    * oracle replays the occurrence count by scanning every adjacent
    * word pair.
    */
  private def q205(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val phrase = docs.filter(col("doc_id") === 0)
      .select(slice(TF.words(col("text")), 1, 2).as("p"))
      .head().getSeq[String](0)
    graft.operators.TextPipeline.phraseMatch(
      graft.operators.TextPipeline.positionalIndex(docs), phrase)
      .orderBy(col("doc_id"))
  }

  query("q205_phrase_index", q205)(Sql(
    s"""$HASH_MACROS; WITH w AS (SELECT doc_id, docwords(text) AS ws FROM documents), q AS (SELECT ws[1] AS t0, ws[2] AS t1 FROM w WHERE doc_id = 0), m AS (SELECT d.doc_id, CAST(len(list_filter(range(1, len(d.ws)), i4 -> d.ws[i4] = q.t0 AND d.ws[i4+1] = q.t1)) AS BIGINT) AS n_occ FROM w d, q) SELECT doc_id, n_occ FROM m WHERE n_occ > 0 ORDER BY doc_id"""))

  /** Line-level boilerplate removal ([[graft.operators.TextPipeline
    * .lineDedup]]): CCNet-shaped dedup at LINE granularity — any 8-word
    * line shared by 2+ documents is boilerplate and stripped everywhere,
    * survivors reassembled in order and fingerprinted. The line
    * document-frequency aggregate shuffles on the line value; the
    * reassembly is one per-doc sorted collect. Nothing corpus-global.
    */
  private def q211(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.lineDedup(
      T(s, dir, "documents"), "doc_id", "text", lineWords = 8, maxDocFreq = 2)
      .orderBy(col("doc_id"))

  // line-level boilerplate removal: the word-window "lines", the
  // distinct-doc frequency and the in-order reassembly all replay
  // exactly; string_agg skips the CASE's NULLs like collect_list does
  query("q211_line_dedup", q211)(Sql(
    """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws FROM documents), l0 AS (SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS wp FROM w), l AS (SELECT doc_id, (wp - 1) // 8 AS line_no, string_agg(word, ' ' ORDER BY wp) AS line FROM l0 GROUP BY doc_id, (wp - 1) // 8), df AS (SELECT line, COUNT(DISTINCT doc_id) AS line_df FROM l GROUP BY line), j AS (SELECT l.doc_id, l.line_no, l.line, df.line_df FROM l JOIN df USING (line)) SELECT doc_id, COUNT(*) AS n_lines, CAST(SUM(CASE WHEN line_df < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, md5(coalesce(string_agg(CASE WHEN line_df < 2 THEN line END, ' ' ORDER BY line_no), '')) AS clean_md5 FROM j GROUP BY doc_id ORDER BY doc_id"""))

  private def q21(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(T(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("keep_id"))

  query("q21_dedup_exact", q21)(Sql(
    """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS text_hash, COUNT(*) AS n_copies, MIN(doc_id) AS keep_id FROM documents GROUP BY 1 ORDER BY keep_id"""))

  private def q22(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashAssign(T(s, dir, "documents"), "doc_id", "text")

  query("q22_dedup_minhash", q22)(Sql(
    s"""$HASH_MACROS; WITH hs AS ($DOC_HASHES), shingled AS (SELECT doc_id, list_transform(range(CASE WHEN n >= 3 THEN n - 2 ELSE 1 END), p -> shmix(shmix(h[p+1], coalesce(h[p+2], ${padLit(1)})), coalesce(h[p+3], ${padLit(2)}))) AS sh FROM hs), sigs AS (SELECT doc_id, $sigSql AS sig FROM shingled), bands AS (SELECT doc_id, unnest(list_zip([${(0 until 8).map(bandSql).mkString(", ")}], [0,1,2,3,4,5,6,7])) AS z FROM sigs), wb AS (SELECT doc_id, z[2] AS band_idx, z[1] AS band_hash FROM bands), stats AS (SELECT doc_id, MIN(doc_id) OVER w AS bucket_rep, COUNT(*) OVER w AS bucket_n FROM wb WINDOW w AS (PARTITION BY band_idx, band_hash)) SELECT doc_id, MIN(bucket_rep) AS rep_id, CAST(SUM(bucket_n - 1) AS BIGINT) AS n_candidates FROM stats GROUP BY doc_id ORDER BY doc_id"""))

  private def q23(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    // one signature pass, materialized: the listing AND the pair generation
    // both consume it (recomputing the 64-aggregate pipeline was the single
    // biggest line in the r1 bench)
    val sim = Dedup.simhashes(docs, "doc_id", "text").localCheckpoint(true)
    val pairs = Dedup.simhashNearDupPairsFromSigs(
      sim.select(col("doc_id").as("id"), col("simhash")))
    val nearCounts = pairs.select(col("id_a").as("doc_id"))
      .unionAll(pairs.select(col("id_b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_near"))
    sim.join(nearCounts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("simhash"),
        coalesce(col("n_near"), lit(0L)).as("n_near"))
      .orderBy(col("doc_id"))
  }

  query("q23_dedup_simhash", q23)(Sql(
    s"""$HASH_MACROS; WITH hs AS ($DOC_HASHES), sims AS (SELECT doc_id, $simhashSqlExpr AS su FROM hs), bands AS (SELECT doc_id, su, unnest(list_zip([(su >> 0) & 65535, (su >> 16) & 65535, (su >> 32) & 65535, (su >> 48) & 65535], [0,1,2,3])) AS z FROM sims), wb AS (SELECT doc_id AS id, su, z[2] AS band_idx, z[1] AS band_val, ROW_NUMBER() OVER (PARTITION BY z[2], z[1] ORDER BY doc_id) AS rn FROM bands), pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b FROM wb a JOIN wb b ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.id < b.id WHERE a.rn <= 64 AND b.rn <= 64 AND bit_count(tosigned(xor(a.su, b.su))) <= 12), nc AS (SELECT doc_id, COUNT(*) AS n_near FROM (SELECT id_a AS doc_id FROM pairs UNION ALL SELECT id_b AS doc_id FROM pairs) GROUP BY doc_id) SELECT s.doc_id, tosigned(s.su) AS simhash, COALESCE(nc.n_near, 0) AS n_near FROM sims s LEFT JOIN nc ON s.doc_id = nc.doc_id ORDER BY s.doc_id"""))

  private def q24(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardTopPairs(T(s, dir, "documents"), "doc_id", "text")

  query("q24_ngram_jaccard", q24)(Sql(
    s"""$HASH_MACROS; WITH hs AS ($DOC_HASHES), sh2 AS (SELECT doc_id, list_transform(range(CASE WHEN n >= 2 THEN n - 1 ELSE 1 END), p -> shmix(h[p+1], coalesce(h[p+2], ${padLit(1)}))) AS sh FROM hs), grams AS (SELECT doc_id AS id, list_sort(list_distinct(list_transform(sh, s -> tosigned(s)))) AS g FROM sh2), bk AS (SELECT id, g, g[1] AS m1, g[CASE WHEN len(g) >= 2 THEN 2 ELSE 1 END] AS m2, ROW_NUMBER() OVER (PARTITION BY g[1], g[CASE WHEN len(g) >= 2 THEN 2 ELSE 1 END] ORDER BY id) AS rn FROM grams) SELECT a.id AS id_a, b.id AS id_b, CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE) AS jaccard FROM bk a JOIN bk b ON a.m1 = b.m1 AND a.m2 = b.m2 AND a.id < b.id WHERE a.rn <= 64 AND b.rn <= 64 ORDER BY jaccard DESC, id_a, id_b LIMIT 200"""))

  private def q25(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingNearDupPairs(T(s, dir, "embeddings"), "vec_id", "embedding", 64)

  query("q25_dedup_embed", q25)(Sql(
    s"""$VEC_MACROS; WITH sigs AS (SELECT vec_id, embedding, ${sigExpr(0)} AS b0, ${sigExpr(8)} AS b1 FROM embeddings), p AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b FROM sigs a JOIN sigs b ON (a.b0 = b.b0 OR a.b1 = b.b1) AND a.vec_id < b.vec_id) SELECT p.id_a, p.id_b, round(pcos(ea.embedding, eb.embedding), 4) AS cos_r FROM p JOIN embeddings ea ON ea.vec_id = p.id_a JOIN embeddings eb ON eb.vec_id = p.id_b ORDER BY cos_r DESC NULLS LAST, id_a, id_b LIMIT 100"""))

  private def q26(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    Similarity.knnBrute(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 10)
  }

  query("q26_knn_brute", q26)(Sql(
    """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10), s AS (SELECT q.qid, e.vec_id AS nid, list_cosine_similarity(q.qv, e.embedding) AS cos FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.qid), r AS (SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk FROM s) SELECT qid, rnk, nid FROM r WHERE rnk <= 10 ORDER BY qid, rnk"""))

  private def q27(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    Similarity.annLsh(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 64, 5)
  }

  query("q27_ann_lsh", q27)(Sql(
    s"""$VEC_MACROS; WITH sigs AS (SELECT vec_id, embedding, ${sigExpr(0)} AS b0, ${sigExpr(8)} AS b1 FROM embeddings), cand AS (SELECT DISTINCT q.vec_id AS qid, e.vec_id AS nid, round(pcos(q.embedding, e.embedding), 4) AS cos_r FROM sigs q JOIN sigs e ON (q.b0 = e.b0 OR q.b1 = e.b1) AND q.vec_id <> e.vec_id WHERE q.vec_id < 10), r AS (SELECT qid, nid, cos_r, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_r DESC NULLS LAST, nid) AS rnk FROM cand) SELECT qid, rnk, nid, cos_r FROM r WHERE rnk <= 5 ORDER BY qid, rnk"""))

  private def q40(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    Similarity.annIvf(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding")
  }

  // the full 2-iteration deterministic k-means replayed in SQL, validated
  // against the Spark dump at all three SFs in tools/proto_ivf_oracle.py
  query("q40_ann_ivf", q40)(Sql(
    s"""$VEC_MACROS; WITH c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)), a1 AS (${ivfAssignSql("c0")}), c1 AS (${ivfRecomputeSql("c0", "a1")}), a2 AS (${ivfAssignSql("c1")}), c2 AS (${ivfRecomputeSql("c1", "a2")}), cells AS (${ivfAssignSql("c2")}), probes AS (SELECT qid, cid FROM (SELECT q.vec_id AS qid, c.cid, ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY pcos(q.embedding, c.cvec) DESC NULLS LAST, c.cid) AS rnk FROM embeddings q CROSS JOIN c2 c WHERE q.vec_id < 10) WHERE rnk <= 2), cand AS (SELECT DISTINCT p.qid, s.vec_id AS nid FROM probes p JOIN cells s ON p.cid = s.cid WHERE s.vec_id <> p.qid), scored AS (SELECT c.qid, c.nid, round(pcos(qe.embedding, ne.embedding), 4) AS cos_r FROM cand c JOIN embeddings qe ON qe.vec_id = c.qid JOIN embeddings ne ON ne.vec_id = c.nid), r AS (SELECT qid, nid, cos_r, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_r DESC NULLS LAST, nid) AS rnk FROM scored) SELECT qid, rnk, nid, cos_r FROM r WHERE rnk <= 5 ORDER BY qid, rnk"""))

  private def q28(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), VF.norm(col("embedding")).as("nrm"))
    val w = Window.partitionBy(col("label")).orderBy(col("nrm").desc, col("vec_id"))
    val cw = Window.partitionBy(col("label"))
    emb
      .withColumn("rnk", row_number().over(w))
      .withColumn("n_vecs", count(lit(1)).over(cw))
      .filter(col("rnk") === 1)
      .select(col("label"), col("n_vecs"), col("vec_id").as("top_norm_vec"))
      .orderBy(col("label"))
  }

  query("q28_vec_stats", q28)(Sql(
    """WITH n AS (SELECT vec_id, label, sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm FROM embeddings), r AS (SELECT label, vec_id, ROW_NUMBER() OVER (PARTITION BY label ORDER BY nrm DESC, vec_id) AS rnk, COUNT(*) OVER (PARTITION BY label) AS n_vecs FROM n) SELECT label, n_vecs, vec_id AS top_norm_vec FROM r WHERE rnk = 1 ORDER BY label"""))

  private def q29(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents")
    d.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_m"),
      TF.wordCount(col("text")).as("n_words"),
      TF.alphaChars(col("text")).as("n_alpha"),
      TF.punctChars(col("text")).as("n_punct"),
      TF.stopwordCount(col("text")).as("stop_cnt"),
      TF.qualityScore(col("text")).as("quality"))
      .orderBy(col("doc_id"))
  }

  query("q29_text_stats", q29)(Sql(
    """SELECT doc_id, length(text) AS n_chars_m, CAST(array_length(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS BIGINT) AS n_words, CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS n_alpha, CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS BIGINT) AS n_punct, (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' the ', ' '))) / 4 + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' a ', ' '))) / 2 + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' and ', ' '))) / 4 + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' of ', ' '))) / 3 AS stop_cnt, (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)) * 0.5 + (((length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' the ', ' '))) / 4 + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' a ', ' '))) / 2 + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' and ', ' '))) / 4 + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' of ', ' '))) / 3) / CAST(array_length(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS DOUBLE)) * 0.5 AS quality FROM documents ORDER BY doc_id"""))

  private def q30(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents")
    d.select(
      col("doc_id"),
      TF.langScore(col("text"), "en").as("s_en"),
      TF.langScore(col("text"), "de").as("s_de"),
      TF.langScore(col("text"), "es").as("s_es"),
      TF.langScore(col("text"), "fr").as("s_fr"),
      TF.langId(col("text")).as("lang_pred"),
      col("lang"))
      .orderBy(col("doc_id"))
  }

  query("q30_langid", q30)(Sql(
    """WITH m AS (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS p FROM documents), sc AS (SELECT doc_id, lang, (length(p) - length(replace(p, ' the ', ' '))) / 4 + (length(p) - length(replace(p, ' a ', ' '))) / 2 AS s_en, (length(p) - length(replace(p, ' der ', ' '))) / 4 + (length(p) - length(replace(p, ' und ', ' '))) / 4 AS s_de, (length(p) - length(replace(p, ' el ', ' '))) / 3 + (length(p) - length(replace(p, ' los ', ' '))) / 4 AS s_es, (length(p) - length(replace(p, ' le ', ' '))) / 3 + (length(p) - length(replace(p, ' et ', ' '))) / 3 AS s_fr FROM m) SELECT doc_id, s_en, s_de, s_es, s_fr, CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en' WHEN s_de > s_en AND s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de' WHEN s_es > s_en AND s_es > s_de AND s_es >= s_fr AND s_es > 0 THEN 'es' WHEN s_fr > s_en AND s_fr > s_de AND s_fr > s_es AND s_fr > 0 THEN 'fr' ELSE 'unknown' END AS lang_pred, lang FROM sc ORDER BY doc_id"""))

  private def q31(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents")
    d.select(
      col("doc_id"),
      TF.wordCount(col("text")).as("ws_tokens"),
      TF.bpeishTokenCount(col("text")).as("bpe_tokens"),
      (length(col("text")).cast("double") /
        TF.bpeishTokenCount(col("text")).cast("double")).as("chars_per_token"))
      .orderBy(col("doc_id"))
  }

  query("q31_token_count", q31)(Sql(
    """SELECT doc_id, CAST(array_length(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS BIGINT) AS ws_tokens, CAST(array_length(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe_tokens, CAST(length(text) AS DOUBLE) / CAST(array_length(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS DOUBLE) AS chars_per_token FROM documents ORDER BY doc_id"""))

  private def q32(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("doc_id"), TF.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  query("q32_fingerprint", q32)(Sql(
    """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp FROM documents ORDER BY doc_id"""))

  private def q33(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeMeta(s, Multimodal.attachPayload(T(s, dir, "documents")))
      .toDF()
      .orderBy(col("doc_id"))

  // height derives from the FIRST UTF-8 BYTE (matching the byte-level
  // stub decoder), not the first code point: hex(blob)[1:2] → strpos
  // arithmetic ('0' is absent from the lookup so it maps to 0)
  query("q33_multimodal_meta", q33)(Sql(
    """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, CAST(64 + octet_length(encode(text)) % 512 AS BIGINT) AS width, CAST(64 + ((strpos('123456789ABCDEF', substr(hex(encode(text)),1,1)))*16 + strpos('123456789ABCDEF', substr(hex(encode(text)),2,1))) % 512 AS BIGINT) AS height, 3 AS channels, CASE CAST(octet_length(encode(text)) % 3 AS INTEGER) WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webp' END AS format FROM documents ORDER BY doc_id"""))

  /** Edit-distance fuzzy matching over the distinct vocabulary: candidate
    * pairs bucketed by length difference <= 1, kept when levenshtein <= 2.
    *
    * Plan shape: the left side EXPLODES each word to its three candidate
    * length buckets (len-1, len, len+1 — distinct values, so a qualifying
    * pair matches exactly once) and the right side joins on its own length,
    * making the length-tolerance condition an EQUI-join Catalyst hash/SMJ
    * partitions by bucket. The naive `len_b BETWEEN len_a-1 AND len_a+1`
    * theta-join has no equality conjunct and can only plan as
    * BroadcastNestedLoopJoin — O(|vocab|²) with one side fully broadcast,
    * which cannot survive a 100 TB corpus vocabulary. PlanAuditSpec asserts
    * the no-BNL shape.
    */
  def q49(s: SparkSession, dir: String): DataFrame = {
    val words = T(s, dir, "documents")
      .select(explode(split(trim(col("text")), """\s+""")).as("w"))
      .distinct()
    val a = words.select(col("w").as("w_a"),
      explode(array(length(col("w")) - 1, length(col("w")), length(col("w")) + 1))
        .as("len_bucket"))
    val b = words.select(col("w").as("w_b"), length(col("w")).as("len_bucket"))
    a.join(b, Seq("len_bucket"))
      .filter(col("w_a") < col("w_b"))
      .select(col("w_a"), col("w_b"), levenshtein(col("w_a"), col("w_b")).as("dist"))
      .filter(col("dist") <= 2)
      .orderBy(col("w_a"), col("w_b"))
  }

  query("q49_edit_distance", q49)(Sql(
    """WITH v AS (SELECT DISTINCT unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents) SELECT a.w AS w_a, b.w AS w_b, CAST(levenshtein(a.w, b.w) AS INTEGER) AS dist FROM v a JOIN v b ON length(b.w) BETWEEN length(a.w) - 1 AND length(a.w) + 1 AND a.w < b.w WHERE levenshtein(a.w, b.w) <= 2 ORDER BY w_a, w_b"""))

  /** Frame sampling over binary payloads (every 4th frame, 100 B frames). */
  private def q46(s: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.sampleFrames(
      graft.operators.Multimodal.attachPayload(T(s, dir, "documents")))
      .orderBy(col("doc_id"), col("frame_idx"))

  query("q46_frame_sample", q46)(Sql(
    """SELECT doc_id, n_frames, frame_idx, frame_idx * 100 AS frame_offset FROM (SELECT doc_id, octet_length(encode(text)) // 100 AS n_frames, unnest(range(0, CAST(octet_length(encode(text)) // 100 AS INTEGER), 4)) AS frame_idx FROM documents WHERE octet_length(encode(text)) // 100 >= 1) ORDER BY doc_id, frame_idx"""))

  /** Composed corpus-cleaning pipeline (quality → language → dedup). */
  private def q39(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.cleanCorpus(
      T(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("n_words"), col("alpha_ratio"), col("lang_pred"))
      .orderBy(col("doc_id"))

  query("q39_clean_corpus", q39)(Sql(
    """WITH s AS (SELECT doc_id, ' ' || lower(text) || ' ' AS p, CAST(array_length(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS BIGINT) AS n_words, CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) AS alpha_ratio, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp FROM documents), sc AS (SELECT doc_id, n_words, alpha_ratio, fp, (length(p) - length(replace(p, ' the ', ' '))) / 4 + (length(p) - length(replace(p, ' a ', ' '))) / 2 AS s_en, (length(p) - length(replace(p, ' der ', ' '))) / 4 + (length(p) - length(replace(p, ' und ', ' '))) / 4 AS s_de, (length(p) - length(replace(p, ' el ', ' '))) / 3 + (length(p) - length(replace(p, ' los ', ' '))) / 4 AS s_es, (length(p) - length(replace(p, ' le ', ' '))) / 3 + (length(p) - length(replace(p, ' et ', ' '))) / 3 AS s_fr FROM s), l AS (SELECT doc_id, n_words, alpha_ratio, fp, CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en' WHEN s_de > s_en AND s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de' WHEN s_es > s_en AND s_es > s_de AND s_es >= s_fr AND s_es > 0 THEN 'es' WHEN s_fr > s_en AND s_fr > s_de AND s_fr > s_es AND s_fr > 0 THEN 'fr' ELSE 'unknown' END AS lang_pred FROM sc), g AS (SELECT doc_id, n_words, alpha_ratio, lang_pred, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM l WHERE n_words >= 10 AND alpha_ratio >= 0.5) SELECT doc_id, n_words, alpha_ratio, lang_pred FROM g WHERE rn = 1 ORDER BY doc_id"""))

  /** Connected components over the edit-distance pair graph (q49's edges):
    * iterative min-label propagation ([[Dedup.dupClusters]]) — each word in
    * a fuzzy-match cluster gets the lexicographically smallest member as its
    * representative. The oracle replays the fixpoint as a recursive CTE.
    */
  private def q59(s: SparkSession, dir: String): DataFrame = {
    val pairs = q49(s, dir)
      .select(col("w_a").as("id_a"), col("w_b").as("id_b"))
    val nodes = pairs.select(col("id_a").as("w"))
      .unionAll(pairs.select(col("id_b").as("w")))
      .distinct()
    Dedup.dupClusters(nodes, "w", pairs, maxIter = 30)
      .orderBy(col("w"))
  }

  query("q59_word_clusters", q59)(Sql(wordClustersOracleSql))

  /** Quality-weighted corpus sampling: documents survive with probability
    * equal to their quality score (deterministic md5 fraction vs weight).
    */
  private def q76(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.weightedSample(
      T(s, dir, "documents")
        .withColumn("quality", TF.qualityScore(col("text"))),
      "doc_id", "quality")
      .select(col("doc_id"), col("lang"), round(col("quality"), 6).as("quality_r"))
      .orderBy(col("doc_id"))

  query("q76_weighted_sample", q76)(Sql(
    s"""WITH q AS (SELECT doc_id, lang, $QUALITY_SQL AS quality FROM documents) SELECT doc_id, lang, round(quality, 6) AS quality_r FROM q WHERE CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 < least(greatest(quality, 0.0), 1.0) ORDER BY doc_id"""))

  /** Bloom-filter pre-join pruning: a compact filter built from the small
    * side's keys drops most non-matching big-side rows BEFORE the join
    * shuffle (false positives are removed by the real join, so the result
    * is exact). At 100 TB this is the standard trick to avoid shuffling a
    * fact table against a selective dimension.
    */
  private def q80(s: SparkSession, dir: String): DataFrame = {
    val dim = T(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    // size from the actual key count: a hardcoded capacity saturates at
    // larger SFs and the false-positive rate quietly climbs, turning the
    // pre-filter into a no-op
    val bloom = dim.stat.bloomFilter("c_custkey", math.max(dim.count(), 64L), 0.01)
    val bloomBc = s.sparkContext.broadcast(bloom)
    T(s, dir, "orders")
      // cheap pre-shuffle prune, codegen'd (no UDF boxing on the hot path)
      .filter(graft.plans.BloomExpressions.mightContainLong(col("o_custkey"), bloomBc))
      .join(dim, col("o_custkey") === col("c_custkey")) // exact join
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), sumx(col("o_totalprice")).as("total"))
      .orderBy(col("c_mktsegment"))
  }

  query("q80_bloom_prefilter", q80)(Sql(
    """SELECT c_mktsegment, COUNT(*) AS n_orders, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total FROM orders JOIN customer ON o_custkey = c_custkey WHERE c_mktsegment = 'BUILDING' GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** MinHash candidate pairs with ESTIMATED Jaccard (signature agreement
    * ratio) — the operator the LSH theory is about, replayed exactly by the
    * oracle thanks to the portable hash family.
    */
  private def q84(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDupPairs(T(s, dir, "documents"), "doc_id", "text", threshold = 0.3)
      .orderBy(col("id_a"), col("id_b"))

  query("q84_minhash_pairs", q84)(Sql(
    s"""$HASH_MACROS; WITH hs AS ($DOC_HASHES), shingled AS (SELECT doc_id, list_transform(range(CASE WHEN n >= 3 THEN n - 2 ELSE 1 END), p -> shmix(shmix(h[p+1], coalesce(h[p+2], ${padLit(1)})), coalesce(h[p+3], ${padLit(2)}))) AS sh FROM hs), sigs AS (SELECT doc_id AS id, $sigSql AS sig FROM shingled), bands AS (SELECT id, sig, unnest(list_zip([${(0 until 8).map(bandSql).mkString(", ")}], [0,1,2,3,4,5,6,7])) AS z FROM sigs), wb AS (SELECT id, sig, z[2] AS band_idx, z[1] AS band_hash, ROW_NUMBER() OVER (PARTITION BY z[2], z[1] ORDER BY id) AS rn FROM bands), p AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, CAST(len(list_filter(range(32), i -> a.sig[i+1] = b.sig[i+1])) AS DOUBLE) / 32.0 AS est_jaccard FROM wb a JOIN wb b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.id < b.id WHERE a.rn <= 64 AND b.rn <= 64) SELECT id_a, id_b, est_jaccard FROM p WHERE est_jaccard >= 0.3 ORDER BY id_a, id_b"""))

  /** TF-IDF: term frequency × inverse document frequency over the corpus,
    * top 100 (doc, term) scores. ln() at the very end over exact integer
    * ratios; rounded to 6 decimals for cross-engine float safety.
    */
  private def q85(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val nDocs = docs.count()
    val words = docs.select(col("doc_id"), explode(TF.words(col("text"))).as("w"))
    val tf = words.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val df_ = words.select(col("doc_id"), col("w")).distinct()
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
    tf.join(df_, Seq("w"))
      .select(col("doc_id"), col("w"),
        round(col("tf").cast("double") * log(lit(nDocs.toDouble) / col("df").cast("double")), 6)
          .as("tfidf"))
      .orderBy(col("tfidf").desc, col("doc_id"), col("w"))
      .limit(100)
  }

  query("q85_tfidf", q85)(Sql(
    """WITH w AS (SELECT doc_id, unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w FROM documents), tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM w GROUP BY 1, 2), df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY 1), nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents) SELECT doc_id, w, round(CAST(tf AS DOUBLE) * ln((SELECT n FROM nd) / CAST(df AS DOUBLE)), 6) AS tfidf FROM tf JOIN df USING (w) ORDER BY tfidf DESC, doc_id, w LIMIT 100"""))

  /** RAG-style sliding-window chunking: 400-char windows, 160-char hop,
    * per-chunk md5 (the downstream dedup/embedding key). Character-window
    * semantics are engine-identical; the explode scales chunk rows out.
    */
  private def q86(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.slidingChunks(
      T(s, dir, "documents").select(col("doc_id"), col("text")), "text")
      .select(col("doc_id"), col("chunk_idx"), col("chunk_off"),
        length(col("chunk")).cast("long").as("chunk_len"),
        md5(col("chunk").cast("binary")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  query("q86_rag_chunking", q86)(Sql(
    """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents), c AS (SELECT doc_id, text, unnest(range(0, CAST(greatest(CAST(ceil(CAST(len - 400 AS DOUBLE) / 160) AS BIGINT), 0) + 1 AS BIGINT))) AS chunk_idx FROM d) SELECT doc_id, chunk_idx, chunk_idx * 160 AS chunk_off, CAST(length(substr(text, CAST(chunk_idx * 160 + 1 AS INTEGER), 400)) AS BIGINT) AS chunk_len, md5(substr(text, CAST(chunk_idx * 160 + 1 AS INTEGER), 400)) AS chunk_md5 FROM c ORDER BY doc_id, chunk_idx"""))

  /** End-to-end training-data preparation, composed from the library's own
    * operators in ONE declarative plan: quality+language gates and
    * fingerprint dedup (TextPipeline.cleanCorpus) → RAG chunking →
    * corpus-wide chunk dedup on md5 (keep first) → per-document keep
    * stats. The shape a 100 TB pre-training pipeline actually runs.
    */
  private def q91(s: SparkSession, dir: String): DataFrame = {
    val clean = graft.operators.TextPipeline.cleanCorpus(
      T(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("text"), col("lang_pred"))
    val chunks = graft.operators.TextPipeline.slidingChunks(clean, "text")
      .withColumn("chunk_md5", md5(col("chunk").cast("binary")))
    val w = Window.partitionBy(col("chunk_md5")).orderBy(col("doc_id"), col("chunk_idx"))
    chunks
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .groupBy(col("doc_id"), col("lang_pred"))
      .agg(count(lit(1)).as("n_chunks_kept"))
      .orderBy(col("doc_id"))
  }

  query("q91_prep_pipeline", q91)(Sql(
    """WITH s AS (SELECT doc_id, text, ' ' || lower(text) || ' ' AS p, CAST(array_length(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS BIGINT) AS n_words, CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) AS alpha_ratio, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp FROM documents), sc AS (SELECT doc_id, text, n_words, alpha_ratio, fp, (length(p) - length(replace(p, ' the ', ' '))) / 4 + (length(p) - length(replace(p, ' a ', ' '))) / 2 AS s_en, (length(p) - length(replace(p, ' der ', ' '))) / 4 + (length(p) - length(replace(p, ' und ', ' '))) / 4 AS s_de, (length(p) - length(replace(p, ' el ', ' '))) / 3 + (length(p) - length(replace(p, ' los ', ' '))) / 4 AS s_es, (length(p) - length(replace(p, ' le ', ' '))) / 3 + (length(p) - length(replace(p, ' et ', ' '))) / 3 AS s_fr FROM s), l AS (SELECT doc_id, text, n_words, alpha_ratio, fp, CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en' WHEN s_de > s_en AND s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de' WHEN s_es > s_en AND s_es > s_de AND s_es >= s_fr AND s_es > 0 THEN 'es' WHEN s_fr > s_en AND s_fr > s_de AND s_fr > s_es AND s_fr > 0 THEN 'fr' ELSE 'unknown' END AS lang_pred FROM sc), g AS (SELECT doc_id, text, lang_pred, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM l WHERE n_words >= 10 AND alpha_ratio >= 0.5), kept AS (SELECT doc_id, text, lang_pred, length(text) AS len FROM g WHERE rn = 1), ch AS (SELECT doc_id, lang_pred, text, unnest(range(0, CAST(greatest(CAST(ceil(CAST(len - 400 AS DOUBLE) / 160) AS BIGINT), 0) + 1 AS BIGINT))) AS chunk_idx FROM kept), cm AS (SELECT doc_id, lang_pred, chunk_idx, md5(substr(text, CAST(chunk_idx * 160 + 1 AS INTEGER), 400)) AS chunk_md5 FROM ch), dd AS (SELECT doc_id, lang_pred, ROW_NUMBER() OVER (PARTITION BY chunk_md5 ORDER BY doc_id, chunk_idx) AS rn2 FROM cm) SELECT doc_id, lang_pred, COUNT(*) AS n_chunks_kept FROM dd WHERE rn2 = 1 GROUP BY doc_id, lang_pred ORDER BY doc_id"""))

  /** Count-Min sketch heavy hitters over the corpus vocabulary: top-20
    * words with true count and (never-undercounting) CMS estimate. The
    * oracle replays every xorshift bucket assignment bit-for-bit.
    */
  private def q95(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.cmsHeavyHitters(T(s, dir, "documents"), "text")

  // every xorshift bucket assignment replayed bit-for-bit in HUGEINT
  query("q95_cms_heavy_hitters", q95)(Sql(
    s"""$HASH_MACROS; WITH w AS (SELECT unnest(docwords(text)) AS word FROM documents), wc AS (SELECT word, COUNT(*) AS true_n FROM w GROUP BY word), rb AS (SELECT word, true_n, i, CAST(xstep(xshash(word), CAST(i AS HUGEINT)) & 255 AS BIGINT) AS bucket FROM wc CROSS JOIN (SELECT unnest(range(4)) AS i) r), cells AS (SELECT i, bucket, CAST(SUM(true_n) AS BIGINT) AS cell_n FROM rb GROUP BY i, bucket), top AS (SELECT word FROM wc ORDER BY true_n DESC, word LIMIT 20) SELECT p.word, p.true_n, MIN(c.cell_n) AS cms_est FROM rb p JOIN top t ON p.word = t.word JOIN cells c ON c.i = p.i AND c.bucket = p.bucket GROUP BY p.word, p.true_n ORDER BY p.true_n DESC, p.word"""))

  /** BM25 retrieval scoring of the corpus against a fixed term set —
    * decimal-accumulated per-document sums keep the ranking
    * order-independent and engine-identical.
    */
  private def q96(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.bm25(
      T(s, dir, "documents"), "doc_id", "text", Seq("spark", "join", "scan"))

  // BM25 with the SAME double constants and operation order as the
  // Spark expression (interpolated, not re-typed, to avoid ulp drift);
  // per-term scores land on a 1e-9 decimal grid before the sum
  query("q96_bm25", q96)(Sql(
    s"""$HASH_MACROS; WITH w AS (SELECT doc_id, unnest(docwords(text)) AS w FROM documents), dl AS (SELECT doc_id, COUNT(*) AS dl FROM w GROUP BY doc_id), st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM dl), q AS (SELECT doc_id, w FROM w WHERE w IN ('spark', 'join', 'scan')), tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM q GROUP BY doc_id, w), df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM q GROUP BY w), s AS (SELECT tf.doc_id, CAST((ln((((SELECT n FROM st) - CAST(df AS DOUBLE)) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0) * (CAST(tf AS DOUBLE) * ${1.2 + 1.0})) / (CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + (0.75 * CAST(dl AS DOUBLE)) / (SELECT avgdl FROM st))) AS DECIMAL(18,9)) AS s FROM tf JOIN df USING (w) JOIN dl ON tf.doc_id = dl.doc_id) SELECT doc_id, round(CAST(SUM(s) AS DOUBLE), 6) AS bm25 FROM s GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 100"""))

  /** Int8-quantized ANN: corpus-global scalar quantization onto the 0..255
    * grid, then exact top-k over the QUANTIZED vectors — the 4× memory
    * compression every billion-vector index uses, with integer-exact
    * cosine accumulations so ranks replay deterministically cross-engine.
    */
  private def q104(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    Similarity.quantizedKnn(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 10)
  }

  // replays the 0..255 quantization (identical IEEE ops on identical
  // operands) then ranks by pcos over the quantized vectors — integer-
  // exact accumulations make the cosine doubles bit-equal cross-engine
  query("q104_quantized_ann", q104)(Sql(
    s"""$VEC_MACROS; WITH b AS (SELECT CAST(MIN(u) AS DOUBLE) AS mn, CAST(MAX(u) AS DOUBLE) AS mx FROM (SELECT unnest(embedding) AS u FROM embeddings)), qz AS (SELECT vec_id, list_transform(embedding, v -> CAST(CAST(least(greatest(round((CAST(v AS DOUBLE) - mn) * (255.0 / (mx - mn))), 0.0), 255.0) AS INT) AS FLOAT)) AS qv FROM embeddings, b), q AS (SELECT vec_id AS qid, qv AS qvec FROM qz WHERE vec_id < 10), s AS (SELECT q.qid, e.vec_id AS nid, pcos(q.qvec, e.qv) AS cos FROM q CROSS JOIN qz e WHERE e.vec_id <> q.qid), r AS (SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk FROM s) SELECT qid, rnk, nid FROM r WHERE rnk <= 10 ORDER BY qid, rnk"""))

  /** Incremental corpus dedup: the new batch's unique documents against
    * the already-ingested history's fingerprint set
    * ([[Dedup.incrementalNew]]) — history is never re-deduplicated.
    */
  private def q118(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    Dedup.incrementalNew(
      docs.filter(col("doc_id") <= 250), docs.filter(col("doc_id") > 250),
      "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  query("q118_incremental_dedup", q118)(Sql(
    """WITH fp AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS text_hash FROM documents), hist AS (SELECT DISTINCT text_hash FROM fp WHERE doc_id <= 250), inc AS (SELECT MIN(doc_id) AS doc_id, text_hash FROM fp WHERE doc_id > 250 GROUP BY text_hash) SELECT doc_id, text_hash FROM inc WHERE text_hash NOT IN (SELECT text_hash FROM hist) ORDER BY doc_id"""))

  /** Audio-style overlapping frame windows over the binary payloads
    * (256-byte window, 128 hop): the featurizer framing pass, one explode,
    * per-frame md5 so the oracle replays every byte slice
    * ([[graft.operators.Multimodal.frameWindows]]).
    */
  private def q129(s: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.frameWindows(
      graft.operators.Multimodal.attachPayload(
        T(s, dir, "documents").filter(col("doc_id") <= 200)))
      .orderBy(col("doc_id"), col("frame_idx"))

  // every byte slice replayed in HEX space (DuckDB 1.0 has no blob
  // substring/md5): a byte-aligned slice of hex(payload) IS the hex of
  // the byte slice, and both engines' hex is uppercase
  query("q129_frame_windows", q129)(Sql(
    """WITH p AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents WHERE doc_id <= 200), f AS (SELECT doc_id, unnest(range(0, greatest(length(hx) // 2, 1), 128)) AS off, hx FROM p WHERE length(hx) > 0) SELECT doc_id, CAST(off // 128 AS BIGINT) AS frame_idx, CAST(length(substring(hx, CAST(off * 2 + 1 AS BIGINT), 512)) // 2 AS BIGINT) AS frame_len, md5(substring(hx, CAST(off * 2 + 1 AS BIGINT), 512)) AS frame_md5 FROM f ORDER BY doc_id, frame_idx"""))

  /** Image-style fixed-grid tiling over the binary payloads (64-byte row
    * stride, 16×16-byte tiles): the patchification pass every vision
    * pipeline applies; per-tile md5 so the oracle replays every gathered
    * byte slice ([[graft.operators.Multimodal.tileGrid]]).
    */
  private def q134(s: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.tileGrid(
      graft.operators.Multimodal.attachPayload(
        T(s, dir, "documents").filter(col("doc_id") <= 200)))
      .orderBy(col("doc_id"), col("tile_r"), col("tile_c"))

  // every gathered byte slice replayed in HEX space (same trick as
  // q129): a byte-aligned slice of hex(payload) IS the hex of the byte
  // slice, and string_agg over the spanned raster rows in y-order equals
  // the Spark-side binary fold; both engines' hex and md5 agree
  query("q134_image_tiles", q134)(Sql(
    """WITH p AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents WHERE doc_id <= 200), d AS (SELECT doc_id, hx, length(hx) // 2 AS len, (length(hx) // 2 + 63) // 64 AS n_rows FROM p WHERE length(hx) > 0), tr AS (SELECT doc_id, hx, len, n_rows, unnest(range(0, (n_rows + 15) // 16)) AS tile_r FROM d), tc AS (SELECT doc_id, hx, len, n_rows, tile_r, unnest(range(0, (least(len, 64) + 15) // 16)) AS tile_c FROM tr), y AS (SELECT doc_id, tile_r, tile_c, hx, unnest(range(tile_r * 16, least((tile_r + 1) * 16, n_rows))) AS yy FROM tc), sl AS (SELECT doc_id, tile_r, tile_c, yy, substring(hx, CAST((yy * 64 + tile_c * 16) * 2 + 1 AS BIGINT), 32) AS s FROM y), t AS (SELECT doc_id, CAST(tile_r AS BIGINT) AS tile_r, CAST(tile_c AS BIGINT) AS tile_c, string_agg(s, '' ORDER BY yy) AS thx FROM sl GROUP BY 1, 2, 3) SELECT doc_id, tile_r, tile_c, CAST(length(thx) // 2 AS BIGINT) AS tile_len, md5(thx) AS tile_md5 FROM t WHERE length(thx) > 0 ORDER BY doc_id, tile_r, tile_c"""))

  /** Concat-and-chunk sequence packing at capacity 512 with a small
    * bucket size so the two-phase distributed prefix sum genuinely runs
    * multi-bucket in the gate ([[graft.operators.TextPipeline.packSequences]]).
    */
  private def q138(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.packSequences(
      T(s, dir, "documents"), capacity = 512L, bucketSize = 256L)
      .orderBy(col("doc_id"))

  // the two-phase distributed prefix sum must equal the plain global
  // running sum; all arithmetic is integer-exact
  query("q138_seq_packing", q138)(Sql(
    """WITH t AS (SELECT doc_id, CAST(array_length(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS BIGINT) AS tokens FROM documents), o AS (SELECT doc_id, tokens, SUM(tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tokens AS off FROM t WHERE tokens >= 1) SELECT doc_id, tokens, CAST(off // 512 AS BIGINT) AS pack_id, CAST(off % 512 AS BIGINT) AS pack_offset, CAST((off + tokens - 1) // 512 - off // 512 + 1 AS BIGINT) AS n_spans FROM o ORDER BY doc_id"""))

  /** Per-document repetition (boilerplate) stats over word 3-grams
    * ([[graft.operators.TextPipeline.repetitionStats]]).
    */
  private def q139(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.repetitionStats(T(s, dir, "documents"), n = 3)
      .orderBy(col("doc_id"))

  // identical 3-gram construction (1-based inclusive list slices) and
  // count arithmetic
  query("q139_repetition", q139)(Sql(
    """WITH w AS (SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w FROM documents), g AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))) AS gram FROM w WHERE len(w) >= 3), c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2) SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams, CAST(MAX(cnt) AS BIGINT) AS max_rep, round(CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE), 6) AS rep_ratio FROM c GROUP BY doc_id ORDER BY doc_id"""))

  /** PII redaction ([[graft.operators.TextPipeline.redactPii]]) over
    * deterministic synthesized PII text (the declared input-synthesis
    * step: the corpus tables carry no emails, so the gate fabricates
    * name+email+balance strings from the customer dimension and the
    * oracle fabricates the identical ones).
    */
  private def q140(s: SparkSession, dir: String): DataFrame = {
    val t = T(s, dir, "customer").select(col("c_custkey"),
      concat(col("c_name"), lit(" <user"), col("c_custkey").cast("string"),
        lit("@example.com> bal "),
        col("c_acctbal").cast(DecimalType(12, 2)).cast("string")).as("text"))
    graft.operators.TextPipeline.redactPii(t, "text")
      .select(col("c_custkey"), col("n_emails").cast("long").as("n_emails"),
        col("n_digit_runs").cast("long").as("n_digit_runs"),
        md5(col("redacted")).as("red_md5"))
      .orderBy(col("c_custkey"))
  }

  // same synthesized text, same lookaround-free patterns (Java regex and
  // RE2 agree on this subset); DuckDB regexp_replace needs the g flag
  query("q140_pii_redact", q140)(Sql(
    """WITH t AS (SELECT c_custkey, concat(c_name, ' <user', CAST(c_custkey AS VARCHAR), '@example.com> bal ', CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR)) AS text FROM customer), r AS (SELECT c_custkey, CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails, regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS ne FROM t) SELECT c_custkey, n_emails, CAST(len(regexp_extract_all(ne, '[0-9]{3,}')) AS BIGINT) AS n_digit_runs, md5(regexp_replace(ne, '[0-9]{3,}', '<NUM>', 'g')) AS red_md5 FROM r ORDER BY c_custkey"""))

  /** Benchmark-contamination check: doc_id ≡ 0 (mod 97) is the declared
    * held-out benchmark set; every other document reports the share of
    * its distinct word 4-gram shingles that occur anywhere in the
    * (4 rather than the classic 8-13: the synthetic corpus has no real
    * cross-document 8-gram overlap, and the hit path must actually fire)
    * benchmark ([[graft.operators.TextPipeline.contamination]]).
    */
  private def q141(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.contamination(
      T(s, dir, "documents"), col("doc_id") % 97 === 0, n = 4)
      .orderBy(col("doc_id"))

  // identical 4-gram shingling; DISTINCT per (doc, shingle) both sides;
  // benchmark membership via left join on the shingle text
  query("q141_contamination", q141)(Sql(
    """WITH w AS (SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w FROM documents), g0 AS (SELECT doc_id, doc_id % 97 = 0 AS is_bench, unnest(list_transform(range(1, len(w) - 2), i -> array_to_string(w[i:i+3], ' '))) AS gram FROM w WHERE len(w) >= 4), g AS (SELECT DISTINCT doc_id, is_bench, gram FROM g0), b AS (SELECT DISTINCT gram FROM g WHERE is_bench), c AS (SELECT g.doc_id, COUNT(*) AS n_shingles, CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits FROM g LEFT JOIN b ON g.gram = b.gram WHERE NOT g.is_bench GROUP BY g.doc_id) SELECT doc_id, n_shingles, n_hits, round(CAST(n_hits AS DOUBLE) / CAST(n_shingles AS DOUBLE), 6) AS contamination FROM c ORDER BY doc_id"""))

  /** Blocked fuzzy record linkage ([[graft.operators.Linkage.fuzzyJoin]]):
    * the B side is the customer names with their last two characters
    * swapped (deterministic dirty-data injection); blocking on the first
    * seven digits of the customer number bounds candidate pairs per
    * block, and the codegen Jaro-Winkler threshold keeps swap-pairs
    * (one transposition, sim ≈ 0.989) while rejecting mere same-block
    * neighbors (two substitutions, sim ≈ 0.956).
    */
  private def q143(s: SparkSession, dir: String): DataFrame = {
    val cust = T(s, dir, "customer")
    val dirty = cust.select(col("c_custkey"),
      concat(
        expr("substring(c_name, 1, length(c_name) - 2)"),
        expr("substring(c_name, length(c_name), 1)"),
        expr("substring(c_name, length(c_name) - 1, 1)")).as("c_name"))
    graft.operators.Linkage.fuzzyJoin(
      cust, dirty, "c_custkey", "c_name",
      expr("substring(c_name, 10, 7)"), threshold = 0.98)
      .orderBy(col("a_key"), col("b_key"))
  }

  // identical blocking and dirty-name synthesis; DuckDB's
  // jaro_winkler_similarity is bit-identical to the codegen expression
  // (verified over all 150k blocked pairs), so the raw-double threshold
  // replays exactly
  query("q143_fuzzy_linkage", q143)(Sql(
    """WITH a AS (SELECT c_custkey AS a_key, c_name AS a_name, substring(c_name, 10, 7) AS blk FROM customer), b AS (SELECT c_custkey AS b_key, concat(substring(c_name, 1, length(c_name) - 2), substring(c_name, length(c_name), 1), substring(c_name, length(c_name) - 1, 1)) AS b_name, substring(c_name, 10, 7) AS blk FROM customer) SELECT a_key, b_key, round(jaro_winkler_similarity(a_name, b_name), 6) AS sim FROM a JOIN b USING (blk) WHERE jaro_winkler_similarity(a_name, b_name) >= 0.98 ORDER BY a_key, b_key"""))

  /** Persisted IVF index: build once into the lake (cells partitioned by
    * centroid id), query through [[graft.operators.Similarity.queryIvfIndex]]
    * — must equal q40's build-and-query results exactly (shared oracle).
    */
  private def q150(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val idx = scratch(dir, "q150") + "/ivf"
    graft.operators.Similarity.buildIvfIndex(emb, "vec_id", "embedding", 16, idx)
    graft.operators.Similarity.queryIvfIndex(
      s, idx, emb.filter(col("vec_id") < 10), "vec_id", "embedding")
  }

  // the persisted-index query path must reproduce the build-and-query
  // path bit for bit, so it shares q40's oracle verbatim
  query("q150_ivf_index", q150)(SameAs("q40_ann_ivf"))

  /** Leakage-safe split ([[graft.operators.TextPipeline.leakageSafeSplit]]):
    * split membership decided per exact-duplicate group, so duplicates
    * never straddle train/val/test.
    */
  private def q152(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.leakageSafeSplit(T(s, dir, "documents"))
      .orderBy(col("doc_id"))

  // same fingerprint (q32's), same md5 split recipe (q47/q76's)
  query("q152_leakage_split", q152)(Sql(
    """WITH g AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp FROM documents), k AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY fp) AS gkey FROM g), b AS (SELECT doc_id, gkey, CAST(concat('0x', substr(md5(CAST(gkey AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS pct FROM k) SELECT doc_id, gkey, CASE WHEN pct < 80 THEN 'train' WHEN pct < 90 THEN 'val' ELSE 'test' END AS split FROM b ORDER BY doc_id"""))

  /** Persisted MinHash-LSH near-dup index ([[Dedup.writeMinhashIndex]] /
    * [[Dedup.probeMinhashIndex]]): the corpus (doc_id % 7 ≠ 0) is signed
    * and banded ONCE into a band-partitioned index; the incoming batch
    * (doc_id % 7 = 0) is signed on its own and probed against the index —
    * near-dup detection at batch cost against a standing corpus.
    */
  private def q154(s: SparkSession, dir: String): DataFrame = {
    val idx = scratch(dir, "q154_idx")
    val docs = T(s, dir, "documents")
    Dedup.writeMinhashIndex(
      docs.filter(col("doc_id") % 7 =!= 0), "doc_id", "text", idx)
    Dedup.probeMinhashIndex(
      s, idx, docs.filter(col("doc_id") % 7 === 0), "doc_id", "text",
      threshold = 0.3)
      .orderBy(col("batch_id"), col("corpus_id"))
  }

  // q84's replayed MinHash machinery, split corpus/batch: the corpus
  // side (id % 7 <> 0) is bucket-capped AFTER the split — the same rank
  // rule the persisted index applies at build time; the probing batch
  // (id % 7 = 0) is uncapped
  query("q154_lsh_index", q154)(Sql(
    s"""$HASH_MACROS; WITH hs AS ($DOC_HASHES), shingled AS (SELECT doc_id, list_transform(range(CASE WHEN n >= 3 THEN n - 2 ELSE 1 END), p -> shmix(shmix(h[p+1], coalesce(h[p+2], ${padLit(1)})), coalesce(h[p+3], ${padLit(2)}))) AS sh FROM hs), sigs AS (SELECT doc_id AS id, $sigSql AS sig FROM shingled), bands AS (SELECT id, sig, unnest(list_zip([${(0 until 8).map(bandSql).mkString(", ")}], [0,1,2,3,4,5,6,7])) AS z FROM sigs), wb AS (SELECT id, sig, z[2] AS band_idx, z[1] AS band_hash, ROW_NUMBER() OVER (PARTITION BY z[2], z[1] ORDER BY id) AS rn FROM bands WHERE id % 7 <> 0), qb AS (SELECT id, sig, z[2] AS band_idx, z[1] AS band_hash FROM bands WHERE id % 7 = 0), p AS (SELECT DISTINCT q.id AS batch_id, c.id AS corpus_id, CAST(len(list_filter(range(32), i -> q.sig[i+1] = c.sig[i+1])) AS DOUBLE) / 32.0 AS est_jaccard FROM qb q JOIN wb c ON q.band_idx = c.band_idx AND q.band_hash = c.band_hash WHERE c.rn <= 64) SELECT batch_id, corpus_id, est_jaccard FROM p WHERE est_jaccard >= 0.3 ORDER BY batch_id, corpus_id"""))

  /** Canonical-copy selection after near-dup clustering
    * ([[Dedup.canonicalPerCluster]]): MinHash pair graph → connected
    * components → keep exactly the longest document per cluster (ties to
    * the smallest id) — the "keep the best copy" step between dedup
    * detection and corpus emission.
    */
  private def q155(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.3)
    Dedup.canonicalPerCluster(docs, "doc_id", pairs, "n_chars")
      .orderBy(col("doc_id"))
  }

  // q84's replayed MinHash machinery + q59's reachability closure; the
  // canonical pick is the longest doc (n_chars), ties to the smallest id
  query("q155_canonical_dedup", q155)(Sql(canonicalOracleSql))

  /** Rank-assigned corpus vocabulary ([[TextPipeline.vocabulary]]): the
    * 1000 most frequent words with corpus/document frequency and running
    * token coverage — the tokenizer-prep artifact.
    */
  private def q156(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.vocabulary(T(s, dir, "documents"))
      .orderBy(col("token_id"))

  // same normalized word split as q85; ties broken lexicographically;
  // coverage = exact integer cumulative over exact integer total
  query("q156_vocab_build", q156)(Sql(
    """WITH w AS (SELECT doc_id, unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w FROM documents), c AS (SELECT w, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY 1), t AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM c), r AS (SELECT w, cnt, df, ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS rn FROM c) SELECT CAST(rn - 1 AS BIGINT) AS token_id, w, cnt, df, round(CAST(SUM(cnt) OVER (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / (SELECT total FROM t), 9) AS coverage FROM r WHERE rn <= 1000 ORDER BY token_id"""))

  /** First-iteration BPE merge statistics ([[TextPipeline.bpePairStats]]):
    * adjacent character pairs inside words, weighted by word frequency —
    * what a BPE trainer ranks to pick its first merge.
    */
  private def q157(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.bpePairStats(T(s, dir, "documents"))
      .orderBy(col("rk"))

  // char-based substr agrees across engines (incl. multibyte); weights
  // are exact integer word counts
  query("q157_bpe_pairs", q157)(Sql(
    """WITH w AS (SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w FROM documents), c AS (SELECT w, COUNT(*) AS cnt FROM w GROUP BY 1), pr AS (SELECT substr(w, CAST(i + 1 AS INTEGER), 2) AS pair, w, cnt FROM (SELECT w, cnt, unnest(range(length(w) - 1)) AS i FROM c WHERE length(w) >= 2)), a AS (SELECT pair, CAST(SUM(cnt) AS BIGINT) AS total, COUNT(DISTINCT w) AS n_words FROM pr GROUP BY 1), r AS (SELECT pair, total, n_words, ROW_NUMBER() OVER (ORDER BY total DESC, pair) AS rk0 FROM a) SELECT CAST(rk0 AS BIGINT) AS rk, pair, total, n_words FROM r WHERE rk0 <= 100 ORDER BY rk"""))

  /** URL canonicalization ([[TextFunctions.normalizeUrl]]) over messy
    * synthesized URLs (declared input synthesis — four deterministic
    * dirty variants per doc: uppercased scheme/host + default port +
    * tracking params + fragment, trailing slash, non-default port, mobile
    * host alias): the Common-Crawl-style canonical grouping key, plus the
    * extracted host.
    */
  private def q158(s: SparkSession, dir: String): DataFrame = {
    val host = concat(col("source"), lit(".example.com"))
    val v = pmod(col("doc_id"), lit(4))
    val url = when(v === 0, concat(
        lit("HTTPS://WWW."), upper(host), lit(":443/docs/"), col("doc_id"),
        lit("?utm_source=x&ref="), col("lang"), lit("#top")))
      .when(v === 1, concat(
        lit("http://"), host, lit("/docs/"), col("doc_id"), lit("/")))
      .when(v === 2, concat(
        lit("https://"), host, lit(":8080/docs/"), col("doc_id"),
        lit("?utm_medium=y")))
      .otherwise(concat(
        lit("https://m."), host, lit("/docs/"), col("doc_id")))
    T(s, dir, "documents")
      .select(col("doc_id"), url.as("raw_url"))
      .select(col("doc_id"), col("raw_url"),
        TF.normalizeUrl(col("raw_url")).as("url"))
      .select(col("doc_id"), col("url"), TF.urlHost(col("url")).as("host"))
      .orderBy(col("doc_id"))
  }

  // same synthesis, same lookaround-free normalization chain; every
  // DuckDB replace carries the g flag to match Java's replace-all
  query("q158_url_normalize", q158)(Sql(
    """WITH s AS (SELECT doc_id, lang, source || '.example.com' AS host, doc_id % 4 AS v FROM documents), raw AS (SELECT doc_id, CASE v WHEN 0 THEN 'HTTPS://WWW.' || upper(host) || ':443/docs/' || CAST(doc_id AS VARCHAR) || '?utm_source=x&ref=' || lang || '#top' WHEN 1 THEN 'http://' || host || '/docs/' || CAST(doc_id AS VARCHAR) || '/' WHEN 2 THEN 'https://' || host || ':8080/docs/' || CAST(doc_id AS VARCHAR) || '?utm_medium=y' ELSE 'https://m.' || host || '/docs/' || CAST(doc_id AS VARCHAR) END AS u FROM s), n1 AS (SELECT doc_id, lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*')) || substr(u, length(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*')) + 1) AS u FROM raw), n2 AS (SELECT doc_id, regexp_replace(u, '#.*$', '', 'g') AS u FROM n1), n3 AS (SELECT doc_id, regexp_replace(u, '[?&]utm_[A-Za-z_]+=[^&#]*', '', 'g') AS u FROM n2), n4 AS (SELECT doc_id, regexp_replace(regexp_replace(u, '^([^?&]*)&', '\1?', 'g'), '\?$', '', 'g') AS u FROM n3), n5 AS (SELECT doc_id, regexp_replace(regexp_replace(u, '^(https://[^/:?#]+):443([/?#].*)?$', '\1\2', 'g'), '^(http://[^/:?#]+):80([/?#].*)?$', '\1\2', 'g') AS u FROM n4), n6 AS (SELECT doc_id, regexp_replace(u, '^(https?://)(www\.|m\.)', '\1', 'g') AS u FROM n5), n7 AS (SELECT doc_id, regexp_replace(u, '/$', '', 'g') AS url FROM n6) SELECT doc_id, url, regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1) AS host FROM n7 ORDER BY doc_id"""))

  /** Incremental IVF maintenance ([[Similarity.appendToIvfIndex]]): the
    * index is built from the base corpus (vec_id % 5 ≠ 0), the rest
    * appended batch-wise against the EXISTING centroids — no
    * re-clustering per ingest — and queries see the merged cells.
    */
  private def q167(s: SparkSession, dir: String): DataFrame = {
    val idx = scratch(dir, "q167") + "/ivf"
    val emb = T(s, dir, "embeddings")
    Similarity.buildIvfIndex(
      emb.filter(col("vec_id") % 5 =!= 0), "vec_id", "embedding", 16, idx)
    Similarity.appendToIvfIndex(
      s, idx, emb.filter(col("vec_id") % 5 === 0), "vec_id", "embedding")
    Similarity.queryIvfIndex(
      s, idx, emb.filter(col("vec_id") < 10), "vec_id", "embedding")
  }

  // q40's k-means replay restricted to the BASE corpus (vec_id % 5 <> 0)
  // for seeding and both Lloyd iterations; the final cell assignment
  // covers ALL vectors — exactly what build + append materializes
  query("q167_ivf_append", q167)(Sql(
    s"""$VEC_MACROS; WITH c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0 ORDER BY vec_id LIMIT 16)), a1 AS (${ivfAssignSql("c0", "WHERE vec_id % 5 <> 0")}), c1 AS (${ivfRecomputeSql("c0", "a1")}), a2 AS (${ivfAssignSql("c1", "WHERE vec_id % 5 <> 0")}), c2 AS (${ivfRecomputeSql("c1", "a2")}), cells AS (${ivfAssignSql("c2")}), probes AS (SELECT qid, cid FROM (SELECT q.vec_id AS qid, c.cid, ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY pcos(q.embedding, c.cvec) DESC NULLS LAST, c.cid) AS rnk FROM embeddings q CROSS JOIN c2 c WHERE q.vec_id < 10) WHERE rnk <= 2), cand AS (SELECT DISTINCT p.qid, s.vec_id AS nid FROM probes p JOIN cells s ON p.cid = s.cid WHERE s.vec_id <> p.qid), scored AS (SELECT c.qid, c.nid, round(pcos(qe.embedding, ne.embedding), 4) AS cos_r FROM cand c JOIN embeddings qe ON qe.vec_id = c.qid JOIN embeddings ne ON ne.vec_id = c.nid), r AS (SELECT qid, nid, cos_r, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_r DESC NULLS LAST, nid) AS rnk FROM scored) SELECT qid, rnk, nid, cos_r FROM r WHERE rnk <= 5 ORDER BY qid, rnk"""))

  /** Mergeable per-source Count-Min sketches
    * ([[graft.operators.Sketches.cmsMergedHeavyHitters]]): counter
    * tables summed across sources answer the corpus heavy-hitter query —
    * no history re-scan — with estimates equal to a direct whole-corpus
    * sketch (spec-asserted cell equality).
    */
  private def q169(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.cmsMergedHeavyHitters(
      T(s, dir, "documents"), "source", "text")

  // per-source counter tables summed into the merged sketch, every
  // xorshift bucket replayed in HUGEINT; the merged probe's MIN and the
  // exact rollup replay plainly
  query("q169_cms_merge", q169)(Sql(
    s"""$HASH_MACROS; WITH w AS (SELECT source, unnest(docwords(text)) AS word FROM documents), wcg AS (SELECT source, word, COUNT(*) AS n FROM w GROUP BY 1, 2), rbg AS (SELECT source, word, n, i, CAST(xstep(xshash(word), CAST(i AS HUGEINT)) & 255 AS BIGINT) AS bucket FROM wcg CROSS JOIN (SELECT unnest(range(4)) AS i) r), cellsg AS (SELECT source, i, bucket, CAST(SUM(n) AS BIGINT) AS cell_n FROM rbg GROUP BY 1, 2, 3), merged AS (SELECT i, bucket, CAST(SUM(cell_n) AS BIGINT) AS cell_n FROM cellsg GROUP BY 1, 2), wc AS (SELECT word, CAST(SUM(n) AS BIGINT) AS true_n, COUNT(DISTINCT source) AS n_groups FROM wcg GROUP BY 1), top AS (SELECT word, true_n, n_groups FROM wc ORDER BY true_n DESC, word LIMIT 20), pr AS (SELECT DISTINCT word, i, bucket FROM rbg) SELECT t.word, t.true_n, t.n_groups, MIN(m.cell_n) AS cms_est FROM pr p JOIN top t ON p.word = t.word JOIN merged m ON m.i = p.i AND m.bucket = p.bucket GROUP BY t.word, t.true_n, t.n_groups ORDER BY t.true_n DESC, t.word"""))

  /** Asymmetric containment near-dup
    * ([[Dedup.ngramContainmentPairs]]): |A∩B|/|A| in both directions on
    * bucketed candidates — the quote/excerpt-subset detector Jaccard
    * structurally misses.
    */
  private def q170(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramContainmentPairs(T(s, dir, "documents"), "doc_id", "text")

  // q24's bucketed candidates with BOTH directional containments;
  // integer-over-integer divisions are exact doubles
  query("q170_containment", q170)(Sql(
    s"""$HASH_MACROS; WITH hs AS ($DOC_HASHES), sh2 AS (SELECT doc_id, list_transform(range(CASE WHEN n >= 2 THEN n - 1 ELSE 1 END), p -> shmix(h[p+1], coalesce(h[p+2], ${padLit(1)}))) AS sh FROM hs), grams AS (SELECT doc_id AS id, list_sort(list_distinct(list_transform(sh, s -> tosigned(s)))) AS g FROM sh2), bk AS (SELECT id, g, g[1] AS m1, g[CASE WHEN len(g) >= 2 THEN 2 ELSE 1 END] AS m2, ROW_NUMBER() OVER (PARTITION BY g[1], g[CASE WHEN len(g) >= 2 THEN 2 ELSE 1 END] ORDER BY id) AS rn FROM grams), p AS (SELECT a.id AS id_a, b.id AS id_b, CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / CAST(len(a.g) AS DOUBLE) AS cont_ab, CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / CAST(len(b.g) AS DOUBLE) AS cont_ba FROM bk a JOIN bk b ON a.m1 = b.m1 AND a.m2 = b.m2 AND a.id < b.id WHERE a.rn <= 64 AND b.rn <= 64) SELECT id_a, id_b, cont_ab, cont_ba FROM p WHERE greatest(cont_ab, cont_ba) >= 0.5 ORDER BY greatest(cont_ab, cont_ba) DESC, id_a, id_b LIMIT 200"""))

  /** Character-entropy quality scoring
    * ([[graft.operators.TextPipeline.charEntropy]]): the cheap
    * gibberish/boilerplate gate in pretraining filters, flagged at a 3.5
    * bit threshold.
    */
  private def q176(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.charEntropy(T(s, dir, "documents"), "doc_id", "text")
      .withColumn("quality",
        when(col("entropy") >= 3.5, lit("ok")).otherwise(lit("low")))
      .orderBy(col("doc_id"))

  // per-term n*log2(n) rounded to 9 then DECIMAL-accumulated (order-
  // independent), final entropy rounded to 6 — same grid both sides
  query("q176_entropy_quality", q176)(Sql(
    """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents), cnt AS (SELECT doc_id, c, COUNT(*) AS n FROM ch GROUP BY 1, 2), e AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_chars, COUNT(*) AS n_distinct, CAST(SUM(CAST(round(n * log2(n), 9) AS DECIMAL(28,9))) AS DOUBLE) AS s FROM cnt GROUP BY 1) SELECT doc_id, n_chars, n_distinct, round(log2(n_chars) - s / n_chars, 6) AS entropy, CASE WHEN round(log2(n_chars) - s / n_chars, 6) >= 3.5 THEN 'ok' ELSE 'low' END AS quality FROM e ORDER BY doc_id"""))

  /** Mergeable EXACT distinct counting via packed bitmaps
    * ([[graft.operators.Sketches.bitmapWords]]): per-half bitmap word
    * tables built independently (the persisted-store shape), OR-merged,
    * popcounted — the merged exact count must equal a direct
    * count(DISTINCT), which is precisely what the oracle checks.
    */
  private def q177(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("user_id"))
    val halves = Seq(0, 1).map(p =>
      graft.operators.Sketches.bitmapWords(
        ev.filter(col("event_id") % 2 === p), Seq("event_type"), "user_id"))
    graft.operators.Sketches.bitmapDistinct(
      halves.reduce(_ unionByName _), Seq("event_type"))
      .orderBy(col("event_type"))
  }

  // the bitmap merge is EXACT, so the oracle is simply the direct
  // distinct count the merged popcount must reproduce
  query("q177_bitmap_distinct", q177)(Sql(
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct FROM events GROUP BY 1 ORDER BY event_type"""))

  /** Content-defined chunking ([[graft.operators.Dedup.contentChunks]]):
    * Rabin-style cut points on the portable hash, then a corpus-wide
    * shared-chunk profile per document — the boilerplate/quote detector
    * fixed-width chunking cannot express. Every cut position is replayed
    * bit-for-bit by the oracle.
    */
  private def q179(s: SparkSession, dir: String): DataFrame = {
    val ch = Dedup.contentChunks(T(s, dir, "documents"), "doc_id", "text")
      .localCheckpoint(true) // feeds both the share map and the per-doc rollup
    val shared = ch.groupBy(col("chunk_hash"))
      .agg(count_distinct(col("doc_id")).as("nd"))
    ch.join(shared, Seq("chunk_hash"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("chunk_len")).as("total_len"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared_chunks"))
      .orderBy(col("doc_id"))
  }

  // every content-defined cut replayed bit-for-bit: boundary where the
  // trailing 8-char shingle's xshash has low 6 bits zero (pmod 64 == 0
  // equals a low-bit mask for a power-of-two modulus)
  query("q179_content_chunks", q179)(Sql(
    s"""$HASH_MACROS; WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) >= 1), cuts AS (SELECT doc_id, text, list_sort(list_distinct(list_append(CASE WHEN n >= 8 THEN list_filter(list_transform(range(8, n + 1), cp -> CASE WHEN (xshash(substr(text, cp - 7, 8)) & 63) = 0 THEN CAST(cp AS BIGINT) END), x -> x IS NOT NULL) ELSE CAST([] AS BIGINT[]) END, CAST(n AS BIGINT)))) AS b FROM d), ch AS (SELECT doc_id, text, unnest(list_transform(range(1, len(b) + 1), k -> {'st': CASE WHEN k = 1 THEN CAST(1 AS BIGINT) ELSE b[k - 1] + 1 END, 'en': b[k]})) AS c FROM cuts), hashes AS (SELECT doc_id, c.en - c.st + 1 AS chunk_len, md5(substr(text, CAST(c.st AS INTEGER), CAST(c.en - c.st + 1 AS INTEGER))) AS chunk_hash FROM ch), shared AS (SELECT chunk_hash, COUNT(DISTINCT doc_id) AS nd FROM hashes GROUP BY 1) SELECT h.doc_id, COUNT(*) AS n_chunks, CAST(SUM(h.chunk_len) AS BIGINT) AS total_len, CAST(SUM(CASE WHEN s.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_chunks FROM hashes h JOIN shared s USING (chunk_hash) GROUP BY 1 ORDER BY h.doc_id"""))

  /** Entity resolution end to end — the MDM golden-record pipeline: two
    * record systems (clean, trust 2 / name-corrupted with nulls, trust 1)
    * → blocked fuzzy linkage (q143's codegen Jaro-Winkler) → connected
    * components → per-FIELD survivorship
    * ([[graft.operators.Linkage.goldenRecord]]). The trusted system is
    * missing every 10th balance while the dirty system is missing every
    * segment, so those golden records provably MIX fields from different
    * source rows (trusted name + untrusted balance) — the property that
    * distinguishes per-field survivorship from keep-best-record (q155).
    */
  private def q183(s: SparkSession, dir: String): DataFrame = {
    val cust = T(s, dir, "customer")
    def dirtyName = concat(
      expr("substring(c_name, 1, length(c_name) - 2)"),
      expr("substring(c_name, length(c_name), 1)"),
      expr("substring(c_name, length(c_name) - 1, 1)"))
    val sysA = cust.select((col("c_custkey") * 2).as("rid"),
      lit(2L).as("trust"), col("c_name").as("name"),
      when(col("c_custkey") % 10 === 0, lit(null))
        .otherwise(col("c_acctbal")).cast(DecimalType(12, 2)).as("acctbal"),
      col("c_mktsegment").as("segment"))
    val sysB = cust.select((col("c_custkey") * 2 + 1).as("rid"),
      lit(1L).as("trust"), dirtyName.as("name"),
      (col("c_acctbal").cast(DecimalType(12, 2)) + lit(10).cast(DecimalType(12, 2)))
        .as("acctbal"),
      lit(null).cast("string").as("segment"))
    val recs = sysA.unionByName(sysB)
    val pairs = graft.operators.Linkage.fuzzyJoin(
      cust, cust.select(col("c_custkey"), dirtyName.as("c_name")),
      "c_custkey", "c_name", expr("substring(c_name, 10, 7)"), threshold = 0.98)
      .select((col("a_key") * 2).as("id_a"), (col("b_key") * 2 + 1).as("id_b"))
    val clusters = Dedup.dupClusters(recs, "rid", pairs)
    graft.operators.Linkage.goldenRecord(
      recs.join(clusters, "rid"), "cluster_rep", "rid", "trust",
      Seq("name", "acctbal", "segment"))
      .select(col("cluster_rep"), col("n_records"), col("name"),
        col("acctbal").cast("double").as("acctbal"), col("segment"))
      .orderBy(col("cluster_rep"))
  }

  // components via recursive CTE (q59's pattern) over the jw pairs;
  // per-field survivorship replayed as one (has, trust, rid) window per
  // field — identical to Spark's max(struct(...)) pick
  query("q183_golden_record", q183)(Sql(
    """WITH RECURSIVE recs AS (SELECT c_custkey * 2 AS rid, 2 AS trust, c_name AS name, CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE CAST(c_acctbal AS DECIMAL(12,2)) END AS acctbal, c_mktsegment AS segment FROM customer UNION ALL SELECT c_custkey * 2 + 1, 1, concat(substring(c_name, 1, length(c_name) - 2), substring(c_name, length(c_name), 1), substring(c_name, length(c_name) - 1, 1)), CAST(c_acctbal AS DECIMAL(12,2)) + 10, NULL FROM customer), a AS (SELECT c_custkey AS a_key, c_name AS a_name, substring(c_name, 10, 7) AS blk FROM customer), b AS (SELECT c_custkey AS b_key, concat(substring(c_name, 1, length(c_name) - 2), substring(c_name, length(c_name), 1), substring(c_name, length(c_name) - 1, 1)) AS b_name, substring(c_name, 10, 7) AS blk FROM customer), p AS (SELECT a_key * 2 AS ida, b_key * 2 + 1 AS idb FROM a JOIN b USING (blk) WHERE jaro_winkler_similarity(a_name, b_name) >= 0.98), ed AS (SELECT ida AS src, idb AS dst FROM p UNION ALL SELECT idb, ida FROM p), reach(node, label) AS (SELECT rid, rid FROM recs UNION SELECT ed.dst, r.label FROM reach r JOIN ed ON ed.src = r.node), cl AS (SELECT node AS rid, MIN(label) AS cluster_rep FROM reach GROUP BY node), j AS (SELECT cl.cluster_rep, recs.* FROM recs JOIN cl USING (rid)), pick AS (SELECT cluster_rep, COUNT(*) OVER (PARTITION BY cluster_rep) AS n_records, FIRST_VALUE(name) OVER (PARTITION BY cluster_rep ORDER BY (name IS NOT NULL) DESC, trust DESC, rid DESC) AS name, FIRST_VALUE(acctbal) OVER (PARTITION BY cluster_rep ORDER BY (acctbal IS NOT NULL) DESC, trust DESC, rid DESC) AS acctbal, FIRST_VALUE(segment) OVER (PARTITION BY cluster_rep ORDER BY (segment IS NOT NULL) DESC, trust DESC, rid DESC) AS segment FROM j) SELECT DISTINCT cluster_rep, n_records, name, CAST(acctbal AS DOUBLE) AS acctbal, segment FROM pick ORDER BY cluster_rep"""))

  /** Persisted PQ index ([[Similarity.buildPqIndex]] /
    * [[Similarity.queryPqIndex]]): codebook + 2-byte codes stored (the
    * compressed form — never reconstructions), queries re-derive
    * reconstructions from the broadcast codebook. Bit-equal to the
    * build-and-query path, so it shares q188's oracle verbatim (the
    * q150 contract for PQ).
    */
  private def q207(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val idx = scratch(dir, "q207_idx")
    graft.sources.LocalFs.deleteRecursively(idx)
    Similarity.buildPqIndex(emb, "vec_id", "embedding", 64, idx)
    Similarity.queryPqIndex(s, idx, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding")
  }

  // the persisted PQ index must reproduce the build-and-query path
  // bit for bit, so it shares q188's oracle verbatim
  query("q207_pq_index", q207)(SameAs("q188_pq_ann"))

  /** Incremental PQ-index maintenance ([[Similarity.appendToPqIndex]]):
    * codebooks train on the BASE corpus only (vec_id % 5 ≠ 0); the
    * held-out batch appends by encoding against those existing
    * codebooks — no re-training per ingest (q167's contract for PQ).
    * The oracle replays the base-trained k-means with code assignment
    * over ALL vectors.
    */
  private def q208(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val idx = scratch(dir, "q208_idx")
    graft.sources.LocalFs.deleteRecursively(idx)
    Similarity.buildPqIndex(
      emb.filter(col("vec_id") % 5 =!= 0), "vec_id", "embedding", 64, idx)
    Similarity.appendToPqIndex(s, idx,
      emb.filter(col("vec_id") % 5 === 0), "vec_id", "embedding", 64)
    Similarity.queryPqIndex(s, idx, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding")
  }

  query("q208_pq_append", q208)(Sql(pqAppendOracleSql))

  /** Exact set-similarity join ([[Dedup.setSimilarityJoin]]): EVERY pair
    * with word-set Jaccard ≥ 0.9, found through lossless rare-first
    * prefix filtering (the PPJoin idea) — the exact-recall counterpart
    * to the minhash family. The oracle brute-forces ALL pairs, so the
    * gate proves the filter misses nothing.
    */
  private def q210(s: SparkSession, dir: String): DataFrame =
    // the id bound caps the quadratic ANSWER on this dup-dense synthetic
    // corpus (every templated doc matches hundreds of near-copies at
    // J≥0.9; an exact join's cost is lower-bounded by its output) — the
    // filter is a no-op at the sf0.01 gate (500 docs) and keeps the
    // sf0.1 bench measuring operator overhead, not answer volume
    graft.operators.Dedup.setSimilarityJoin(
      T(s, dir, "documents").filter(col("doc_id") < 500), "doc_id", "text", 0.9)

  // brute-force all-pairs Jaccard: the prefix filter must be LOSSLESS,
  // so the oracle deliberately ignores it
  query("q210_set_similarity", q210)(Sql(
    s"""$HASH_MACROS; WITH w AS (SELECT doc_id, list_sort(list_distinct(docwords(text))) AS toks FROM documents WHERE doc_id < 500), p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) AS jac FROM w a JOIN w b ON a.doc_id < b.doc_id) SELECT id_a, id_b, round(jac, 6) AS jaccard FROM p WHERE jac >= 0.9 ORDER BY id_a, id_b"""))

  /** HYBRID retrieval with reciprocal-rank fusion: a lexical list (term
    * frequency of doc 0's leading word) and a vector list (cosine to
    * vec 0) are each pruned to their top-100 by TakeOrdered (orderBy +
    * limit — no full sort at scale; production fuses bounded candidate
    * lists, never corpora), then fused by RRF: Σ 1/(60 + rank), the
    * standard k=60 formula, each term on the 9-grid. The union-join
    * keeps single-list docs (the whole point of RRF — a doc missing
    * from one list still places).
    */
  private def q209(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val emb = T(s, dir, "embeddings")
    val term = docs.filter(col("doc_id") === 0)
      .select(TF.words(col("text")).getItem(0)).head().getString(0)
    val wl = Window.orderBy(col("tf").desc, col("doc_id"))
    val lex = docs
      .select(col("doc_id"),
        size(filter(TF.words(col("text")), w => w === lit(term)))
          .cast("long").as("tf"))
      .filter(col("tf") > 0)
      .orderBy(col("tf").desc, col("doc_id")).limit(100)
      .withColumn("rl", row_number().over(wl))
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    val wv = Window.orderBy(col("cos_r").desc, col("doc_id"))
    val vec = emb.join(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        round(VF.cosine(col("embedding"), col("qv")), 4).as("cos_r"))
      .orderBy(col("cos_r").desc, col("doc_id")).limit(100)
      .withColumn("rv", row_number().over(wv))
    lex.select(col("doc_id"), col("rl"))
      .join(vec.select(col("doc_id"), col("rv")), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (coalesce(round(lit(1.0) / (lit(60) + col("rl")), 9), lit(0.0)) +
          coalesce(round(lit(1.0) / (lit(60) + col("rv")), 9), lit(0.0)))
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(20)
  }

  query("q209_hybrid_rrf", q209)(Sql(
    s"""$HASH_MACROS; $VEC_MACROS; WITH t AS (SELECT docwords(text)[1] AS term FROM documents WHERE doc_id = 0), lex AS (SELECT doc_id, rl FROM (SELECT doc_id, tf, ROW_NUMBER() OVER (ORDER BY tf DESC, doc_id) AS rl FROM (SELECT doc_id, CAST(len(list_filter(docwords(text), w5 -> w5 = t.term)) AS BIGINT) AS tf FROM documents, t) WHERE tf > 0) WHERE rl <= 100), vec AS (SELECT doc_id, rv FROM (SELECT e.vec_id AS doc_id, ROW_NUMBER() OVER (ORDER BY round(pcos(e.embedding, q.embedding), 4) DESC, e.vec_id) AS rv FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q) WHERE rv <= 100) SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id, COALESCE(round(1.0 / (60 + rl), 9), 0.0) + COALESCE(round(1.0 / (60 + rv), 9), 0.0) AS rrf FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id ORDER BY rrf DESC, doc_id LIMIT 20"""))

  /** Product-quantization ANN ([[Similarity.annPq]]): 4 subspaces × 16
    * dims, 16-codeword L2 codebooks per subspace (2-byte codes — 128×
    * compression vs raw floats), asymmetric reconstruction scoring. The
    * oracle replays all four independent k-means runs (init + 2 Lloyd
    * iterations in exact slice arithmetic), the code assignment, and the
    * concatenated reconstruction bit-for-bit.
    */
  private def q188(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    Similarity.annPq(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 64)
  }

  query("q188_pq_ann", q188)(Sql(pqOracleSql))

  /** Sliding-window distinct users per (event_type, hour) from a
    * standing per-hour bitmap store
    * ([[graft.operators.Sketches.trailingBitmapDistinct]]): facts are
    * scanned once into hourly bitmap cells, and the trailing-6h merge
    * runs over cells only — the dashboard counterpart of q99's
    * fact-explode, and the sliding variant of q177's mergeable bitmaps.
    */
  private def q189(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events").select(
      col("event_type"), col("user_id"),
      expr("(ts div 1000000000) div 3600").as("hour_id"))
    val cells = graft.operators.Sketches.bitmapWords(
      ev, Seq("event_type", "hour_id"), "user_id")
    graft.operators.Sketches.trailingBitmapDistinct(
      cells, Seq("event_type"), "hour_id", 6)
      .orderBy(col("event_type"), col("hour_id"))
  }

  query("q189_sliding_bitmap", q189)(Sql(
    """WITH pairs AS (SELECT DISTINCT event_type, epoch_ns(ts)//1000000000//3600 AS hour_id, user_id FROM events), ticks AS (SELECT DISTINCT event_type, hour_id FROM pairs) SELECT t.event_type, t.hour_id, CAST((SELECT COUNT(DISTINCT p.user_id) FROM pairs p WHERE p.event_type = t.event_type AND p.hour_id BETWEEN t.hour_id - 5 AND t.hour_id) AS BIGINT) AS n_distinct FROM ticks t ORDER BY event_type, hour_id"""))

  /** ANN recall evaluation ([[Similarity.annRecall]]): LSH top-10 scored
    * against the brute-force exact top-10 — the measurement that decides
    * whether an index configuration's speed/recall trade is shippable.
    * The oracle replays BOTH retrievals (plane-literal LSH bands + exact
    * ranking) and the per-query overlap, so the recall numbers themselves
    * are hash-exact.
    */
  private def q215(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    Similarity.annRecall(
      Similarity.annLsh(emb, q, "vec_id", "embedding", 64, 10),
      Similarity.knnBrute(emb, q, "vec_id", "embedding", 10))
      .orderBy(col("qid"))
  }

  // both retrievals replayed (q26's exact rank, q27's banded LSH at
  // k=10), then the per-query overlap — recall itself is hash-exact
  query("q215_ann_recall", q215)(Sql(
    s"""$VEC_MACROS; WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10), s AS (SELECT q.qid, e.vec_id AS nid, list_cosine_similarity(q.qv, e.embedding) AS cos FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.qid), ex AS (SELECT qid, nid FROM (SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk FROM s) WHERE rnk <= 10), sigs AS (SELECT vec_id, embedding, ${sigExpr(0)} AS b0, ${sigExpr(8)} AS b1 FROM embeddings), cand AS (SELECT DISTINCT qc.vec_id AS qid, e.vec_id AS nid, round(pcos(qc.embedding, e.embedding), 4) AS cos_r FROM sigs qc JOIN sigs e ON (qc.b0 = e.b0 OR qc.b1 = e.b1) AND qc.vec_id <> e.vec_id WHERE qc.vec_id < 10), ap AS (SELECT qid, nid FROM (SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_r DESC NULLS LAST, nid) AS rnk FROM cand) WHERE rnk <= 10) SELECT ex.qid, COUNT(*) AS n_exact, CAST(COUNT(ap.nid) AS BIGINT) AS n_hit, round(COUNT(ap.nid) / CAST(COUNT(*) AS DOUBLE), 6) AS recall FROM ex LEFT JOIN ap ON ex.qid = ap.qid AND ex.nid = ap.nid GROUP BY ex.qid ORDER BY ex.qid"""))

  /** Incremental connected components ([[Dedup.updateClusters]]): the
    * standing cluster assignment (built from the base half of the
    * edit-distance pair graph) absorbs the delta edges through a
    * CONTRACTED root graph sized by the batch's touched clusters — the
    * historical edges are never re-propagated. The oracle is the FULL
    * recompute (q59's recursive CTE verbatim), so the gate proves
    * incremental == from-scratch.
    */
  private def q216(s: SparkSession, dir: String): DataFrame = {
    val pairs = q49(s, dir)
      .select(col("w_a").as("id_a"), col("w_b").as("id_b"))
      .localCheckpoint(true)
    val isBase = col("id_a") < lit("m") && col("id_b") < lit("m")
    val base = pairs.filter(isBase)
    val delta = pairs.filter(!isBase)
    val baseNodes = base.select(col("id_a").as("w"))
      .unionAll(base.select(col("id_b").as("w"))).distinct()
    val comp = Dedup.dupClusters(baseNodes, "w", base, maxIter = 30)
    Dedup.updateClusters(
      comp.select(col("w").as("node"), col("cluster_rep")), delta, maxIter = 30)
      .select(col("node").as("w"), col("cluster_rep"))
      .orderBy(col("w"))
  }

  // incremental maintenance must equal the from-scratch recompute — the
  // oracle IS q59's full recursive-CTE components, verbatim
  query("q216_inc_components", q216)(Sql(wordClustersOracleSql))

  /** Greedy longest-match tokenizer apply
    * ([[graft.operators.TextPipeline.tokenizeGreedy]]): top-15 corpus
    * words + the single-character alphabet as the vocabulary, each
    * distinct word consumed by maximal munch — the corpus-scale
    * tokenization step, run at vocabulary size and joined back by word.
    * The oracle unrolls every greedy step as correlated longest-prefix
    * subqueries, so each token sequence replays exactly.
    */
  private def q220(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.tokenizeGreedy(T(s, dir, "documents"), "text")
      .orderBy(col("w"))

  query("q220_tokenize", q220)(Sql(tokenizeOracleSql))

  /** Incremental canonical dedup maintenance ([[Dedup.updateCanonical]]):
    * the standing corpus state (cluster + keep-best verdicts over the
    * non-batch docs) absorbs the batch's docs and near-dup pairs; the
    * keep pick reruns only inside touched clusters. The oracle is q155's
    * one-shot cluster-and-pick verbatim — incremental == from-scratch.
    */
  private def q221(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.3)
      .select(col("id_a"), col("id_b")).localCheckpoint(true)
    val isNewA = col("id_a") % 7 === 0
    val isNewB = col("id_b") % 7 === 0
    val baseDocs = docs.filter(col("doc_id") % 7 =!= 0)
    val baseState = Dedup.canonicalPerCluster(
      baseDocs, "doc_id", pairs.filter(!isNewA && !isNewB), "n_chars")
      .join(baseDocs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .select(col("doc_id").as("node"), col("cluster_rep"), col("keep"),
        col("n_chars").as("weight"))
    Dedup.updateCanonical(
      baseState,
      docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("node"), col("n_chars").as("weight")),
      pairs.filter(isNewA || isNewB), maxIter = 30)
      .select(col("node").as("doc_id"), col("cluster_rep"), col("keep"))
      .orderBy(col("doc_id"))
  }

  // incremental canonical maintenance must equal the one-shot
  // cluster-and-pick — q155's oracle, shared verbatim
  query("q221_canonical_maintenance", q221)(Sql(canonicalOracleSql))

  /** VAD-style energy segmentation over audio-ish payloads
    * ([[Multimodal.energySegments]]): fixed 256-byte frames, exact
    * integer byte-sum energies, active frames merged into utterance-span
    * segments — the activity-detection pass of an audio ingest pipeline,
    * replayed by the oracle in hex space like q129/q193.
    */
  private def q229(s: SparkSession, dir: String): DataFrame =
    Multimodal.energySegments(
      Multimodal.attachPayload(T(s, dir, "documents")))
      .orderBy(col("doc_id"), col("seg_idx"))

  // q193's hex-space framing + exact integer byte-sum energies; the
  // island numbering replays as the same gaps-and-islands window
  query("q229_energy_segments", q229)(Sql(
    """WITH p AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents), f AS (SELECT doc_id, unnest(range(0, greatest(length(hx) // 2, 1), 256)) AS off, hx FROM p WHERE length(hx) > 0), fr AS (SELECT doc_id, CAST(off // 256 AS BIGINT) AS frame_idx, substring(hx, CAST(off * 2 + 1 AS BIGINT), 512) AS h FROM f), en AS (SELECT doc_id, frame_idx, CAST(length(h) // 2 AS BIGINT) AS flen, CAST(list_reduce(list_prepend(0, list_transform(range(0, length(h) // 2), i6 -> CAST(concat('0x', substring(h, CAST(i6 * 2 + 1 AS INTEGER), 2)) AS BIGINT))), (a6, b6) -> a6 + b6) AS BIGINT) AS energy FROM fr), act AS (SELECT doc_id, frame_idx, energy FROM en WHERE energy > 96 * flen), sg AS (SELECT doc_id, frame_idx, energy, CASE WHEN lag(frame_idx) OVER (PARTITION BY doc_id ORDER BY frame_idx) = frame_idx - 1 THEN 0 ELSE 1 END AS is_new FROM act), gi AS (SELECT doc_id, frame_idx, energy, CAST(SUM(is_new) OVER (PARTITION BY doc_id ORDER BY frame_idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seg_idx FROM sg) SELECT doc_id, seg_idx, MIN(frame_idx) AS start_frame, MAX(frame_idx) AS end_frame, COUNT(*) AS n_frames, CAST(SUM(energy) AS BIGINT) AS seg_energy FROM gi GROUP BY 1, 2 ORDER BY doc_id, seg_idx"""))

  /** Perceptual-hash near-dup over binary payloads — the image half of the
    * dedup stack (q22/q23 are its text siblings): a 64-bit aHash built from
    * 64 byte-sum cells over the payload (bit i = cell i above the global
    * byte mean, compared cross-multiplied so everything stays in exact
    * integers), packed as four 16-bit bands. Candidate pairs share at least
    * one band (LSH banding — at corpus scale you widen/multiply bands, same
    * machinery as q22); survivors have Hamming distance ≤ 10 across all 64
    * bits. The "decode" is the same deterministic stand-in as fakeDecode:
    * real pixels would enter at the cell computation, nothing downstream
    * changes. Oracle replays cell-by-cell in hex space (q229's pattern).
    */
  private def q237(s: SparkSession, dir: String): DataFrame = {
    val hx = T(s, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("bin"))
      .withColumn("len", length(col("bin")).cast("long"))
      .filter(col("len") >= 64)
    // cell i = exact byte sum of slice [i*len/64, (i+1)*len/64); len >= 64
    // guarantees every cell is non-empty. One codegen'd byte scan
    // (graft.plans.ByteCellSums) — the previous transform/aggregate/
    // conv(substring(hex…)) walk paid an interpreted lambda per BYTE
    // (one 4.7 s job ≈ 80% of the board entry at sf0.1; same
    // per-element-lambda trap as the q378 ring, same codegen fix).
    val cells = hx.withColumn("cells",
      graft.plans.BytesExpressions.byteCellSums(col("bin"), lit(64)))
      .withColumn("total", aggregate(col("cells"), lit(0L), (a, x) => a + x))
    // bit i: 64*cell > total (cross-multiplied mean comparison, exact).
    // The eager checkpoint is load-bearing: HOFs evaluate INTERPRETED, and
    // without it Catalyst collapses this whole computation into the
    // self-join's key/predicate expressions — re-deriving the aHash per
    // COMPARED PAIR (measured: minutes at 5k docs vs seconds materialized)
    val bands = cells.withColumn("bands",
      transform(sequence(lit(0), lit(3)), k =>
        aggregate(sequence(lit(0), lit(15)), lit(0L), (acc, b) =>
          acc + when(
            element_at(col("cells"), k * 16 + b + 1) * 64 > col("total"),
            pow(lit(2.0), b.cast("double")).cast("long")).otherwise(0L))))
      .select(col("doc_id"), col("bands"))
      .localCheckpoint(true)
    val banded = bands.select(col("doc_id"), col("bands"),
      posexplode(col("bands")).as(Seq("k", "bv")))
    val pairs = banded.as("a").join(banded.as("b"),
        col("a.k") === col("b.k") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.bands").as("ba"), col("b.bands").as("bb"))
      .distinct()
    pairs
      .withColumn("hamming", expr(
        "cast(bit_count(ba[0] ^ bb[0]) + bit_count(ba[1] ^ bb[1]) + " +
          "bit_count(ba[2] ^ bb[2]) + bit_count(ba[3] ^ bb[3]) as bigint)"))
      .filter(col("hamming") <= 10)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  // the aHash replays cell-by-cell in hex space (q229's pattern); bands,
  // bucket join and Hamming verify are the same integer arithmetic
  query("q237_phash_dedup", q237)(Sql(
    """WITH p0 AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents), p AS (SELECT doc_id, hx, CAST(length(hx) // 2 AS BIGINT) AS len FROM p0 WHERE length(hx) // 2 >= 64), cl AS (SELECT doc_id, list_transform(range(0, 64), i -> CAST(list_reduce(list_prepend(0, list_transform(range(len * i // 64, len * (i+1) // 64), j -> CAST(concat('0x', substring(hx, CAST(j * 2 + 1 AS BIGINT), 2)) AS BIGINT))), (a, b) -> a + b) AS BIGINT)) AS cells FROM p), ct AS (SELECT doc_id, cells, CAST(list_reduce(cells, (a, b) -> a + b) AS BIGINT) AS total FROM cl), bd AS (SELECT doc_id, list_transform(range(0, 4), k -> CAST(list_reduce(list_prepend(0, list_transform(range(0, 16), b -> CASE WHEN cells[CAST(k*16+b+1 AS BIGINT)] * 64 > total THEN CAST(1 << b AS BIGINT) ELSE 0 END)), (a, c) -> a + c) AS BIGINT)) AS bands FROM ct), ev AS (SELECT doc_id, bands, k, bands[CAST(k+1 AS BIGINT)] AS bv FROM (SELECT doc_id, bands, unnest(range(0,4)) AS k FROM bd)), pr AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.bands AS ba, b.bands AS bb FROM ev a JOIN ev b ON a.k = b.k AND a.bv = b.bv AND a.doc_id < b.doc_id), h AS (SELECT id_a, id_b, CAST(bit_count(xor(ba[1], bb[1])) + bit_count(xor(ba[2], bb[2])) + bit_count(xor(ba[3], bb[3])) + bit_count(xor(ba[4], bb[4])) AS BIGINT) AS hamming FROM pr) SELECT id_a, id_b, hamming FROM h WHERE hamming <= 10 ORDER BY id_a, id_b"""))

  /** Sorted-neighborhood dedup (SNM) — the third classic blocking family
    * after hashing (q21) and LSH banding (q22/q237): records sort by a
    * normalized key, and only rows within a fixed window of the sorted
    * order are compared. The global order comes from q232's distributed
    * numbering (no single-partition window), window-w candidates come from
    * a bounded 2× block explode (pairs within w share a block — never a
    * theta-join), and survivors verify with the codegen Jaro–Winkler
    * (q143's expression, bit-matched to the oracle's built-in).
    */
  private def q243(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"),
      substring(regexp_replace(lower(trim(col("text"))), "\\s+", " "), 1, 60).as("skey"))
    val ranked = graft.operators.GlobalOrder.rowNumbers(
      docs, Seq(col("skey"), col("doc_id")), idCol = "rnk")
    val blocked = ranked.select(col("doc_id"), col("skey"), col("rnk"),
      explode(array(
        floor((col("rnk") - 1) / 4),
        floor((col("rnk") - 1) / 4) + 1)).as("blk"))
    val pairs = blocked.as("a").join(blocked.as("b"),
        col("a.blk") === col("b.blk") && col("b.rnk") > col("a.rnk") &&
          col("b.rnk") - col("a.rnk") <= 4)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.skey").as("ka"), col("b.skey").as("kb"))
      .distinct()
    pairs
      .withColumn("sim",
        graft.plans.StringSimilarityExpressions.jaroWinkler(col("ka"), col("kb")))
      .filter(col("sim") >= 0.9)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
      .orderBy(col("id_a"), col("id_b"))
  }

  // the sorted order + window-w candidate rule replays declaratively;
  // DuckDB's built-in Jaro-Winkler bit-matches the codegen expression
  query("q243_sorted_neighborhood", q243)(Sql(
    """WITH d AS (SELECT doc_id, substring(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), 1, 60) AS skey FROM documents), r AS (SELECT doc_id, skey, ROW_NUMBER() OVER (ORDER BY skey, doc_id) AS rnk FROM d), p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.skey AS ka, b.skey AS kb FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk - a.rnk <= 4) SELECT id_a, id_b, round(jaro_winkler_similarity(ka, kb), 6) AS sim FROM p WHERE jaro_winkler_similarity(ka, kb) >= 0.9 ORDER BY id_a, id_b"""))

  /** KMV distinct sketch per event type + the merged union estimate
    * ([[graft.operators.Sketches.kmvDistinct]]) — the order-statistics
    * sketch whose internals the oracle replays EXACTLY (md5-derived
    * 52-bit hashes), unlike the rows-only HLL queries (q37/q119).
    */
  private def q249(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.kmvDistinct(
      T(s, dir, "events"), "event_type", "user_id", k = 64)

  query("q249_kmv_distinct", q249)(Sql(
    """WITH h AS (SELECT DISTINCT event_type AS g, CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h FROM events), r AS (SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn FROM h), mins AS (SELECT g, h, rn FROM r WHERE rn <= 64), u AS (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM (SELECT DISTINCT h FROM mins)), uk AS (SELECT '__union__' AS g, h, rn FROM u WHERE rn <= 64), allm AS (SELECT * FROM mins UNION ALL SELECT * FROM uk), e AS (SELECT g, COUNT(*) AS nk, MAX(CASE WHEN rn = 64 THEN h END) AS hk FROM allm GROUP BY g) SELECT g, round(CASE WHEN nk < 64 THEN CAST(nk AS DOUBLE) ELSE CAST(63 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE) / CAST(hk AS DOUBLE) END, 4) AS est FROM e ORDER BY g"""))

  /** Accent folding via the engine's codegen [[graft.plans.AccentFold]]
    * expression (NFD → strip combining marks → NFC). The ASCII corpus is
    * first deterministically accented (vowels → composed accented forms)
    * so the fold provably does work, then folded back — the oracle runs
    * DuckDB's `strip_accents` over the identical accented text and
    * hash-compares both the accented and folded forms.
    */
  private def q252(s: SparkSession, dir: String): DataFrame = {
    val acc = translate(col("text"), "aeiou", "áéíóú")
    val folded = graft.plans.UnicodeExpressions.accentFold(acc)
    T(s, dir, "documents")
      .select(col("doc_id"),
        md5(acc.cast("binary")).as("accented_md5"),
        md5(folded.cast("binary")).as("folded_md5"),
        (folded === col("text")).cast("int").as("roundtrip"),
        (length(col("text")) -
          length(translate(col("text"), "aeiou", ""))).as("n_folded"))
      .orderBy(col("doc_id"))
  }

  query("q252_accent_fold", q252)(Sql(
    """WITH a AS (SELECT doc_id, text, translate(text, 'aeiou', 'áéíóú') AS acc FROM documents) SELECT doc_id, md5(acc) AS accented_md5, md5(strip_accents(acc)) AS folded_md5, CAST(strip_accents(acc) = text AS INTEGER) AS roundtrip, CAST(length(text) - length(translate(text, 'aeiou', '')) AS BIGINT) AS n_folded FROM a ORDER BY doc_id"""))

  /** KMV sketch set-algebra ([[graft.operators.Sketches.kmvJaccard]]):
    * pairwise Jaccard between event types' user sets estimated from the
    * k-min sketches alone — everything past the sketch pass is
    * sketch-sized (|G|² pairs × ≤ 2k rows), and the md5-derived
    * estimator replays exactly in the oracle.
    */
  private def q260(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.kmvJaccard(
      T(s, dir, "events"), "event_type", "user_id", k = 64)

  // the KMV Jaccard estimator replays hash-for-hash: same md5-derived
  // 52-bit space, same k-smallest-of-union membership counting
  query("q260_kmv_jaccard", q260)(Sql(
    """WITH h AS (SELECT DISTINCT event_type AS g, CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h FROM events), r AS (SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn FROM h), mins AS (SELECT g, h FROM r WHERE rn <= 64), gs AS (SELECT DISTINCT g FROM mins), pairs AS (SELECT a.g AS ga, b.g AS gb FROM gs a JOIN gs b ON a.g < b.g), u AS (SELECT ga, gb, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM (SELECT p.ga, p.gb, m.h, 1 AS in_a, 0 AS in_b FROM pairs p JOIN mins m ON m.g = p.ga UNION ALL SELECT p.ga, p.gb, m.h, 0, 1 FROM pairs p JOIN mins m ON m.g = p.gb) GROUP BY 1, 2, 3), ks AS (SELECT ga, gb, in_a, in_b, ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY h) AS rn FROM u) SELECT ga, gb, COUNT(*) AS kk, CAST(SUM(in_a * in_b) AS BIGINT) AS n_both, round(CAST(SUM(in_a * in_b) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS jaccard_est FROM ks WHERE rn <= 64 GROUP BY 1, 2 ORDER BY ga, gb"""))

  /** Mergeable quantile sketch
    * ([[graft.operators.Sketches.quantileSketch]]): per-day bottom-k-by-
    * hash samples over event values merge to the period p50/p90/p99
    * without re-scanning facts — the sketch shelf's quantile member next
    * to KMV/HLL/CMS/bitmaps. Bottom-k chosen over KLL deliberately: the
    * merge is EXACTLY the global bottom-k (pure function of md5 hashes),
    * so the whole pipeline replays hash-for-hash in the oracle, where
    * KLL's compactor coin flips could never (SURVEY §5 frontier #4).
    */
  private def q316(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.quantileSketch(
      T(s, dir, "events"),
      expr("date_format(timestamp_seconds(ts div 1000000000), 'yyyy-MM-dd')"),
      "event_id", "value", 256, Seq(0.5, 0.9, 0.99))

  // the bottom-k-by-hash sample replays hash-for-hash: per-day bottom
  // 256, global re-take, sorted-array quantile pick
  query("q316_quantile_sketch", q316)(Sql(
    """WITH e AS (SELECT strftime(ts, '%Y-%m-%d') AS seg, event_id AS id, CAST(value AS DOUBLE) AS v, CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h FROM events), sk AS (SELECT seg, h, id, v FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY seg ORDER BY h, id) AS rn FROM e) WHERE rn <= 256), m AS (SELECT v FROM (SELECT v, ROW_NUMBER() OVER (ORDER BY h, id) AS grn FROM sk) WHERE grn <= 256), arr AS (SELECT list_sort(list(v)) AS vals, COUNT(*) AS kk FROM m), tot AS (SELECT COUNT(*) AS n_total FROM e), spine AS (SELECT * FROM (VALUES (0.5), (0.9), (0.99)) AS t(q)) SELECT q AS quantile, vals[CAST(GREATEST(1, CEIL(q * kk)) AS INTEGER)] AS est, kk AS sample_k, n_total FROM spine, arr, tot ORDER BY quantile"""))

  /** EMBEDDING-distribution drift
    * ([[graft.operators.Similarity.embeddingDrift]]): per-dimension mean
    * shift between the even- and odd-label slices plus the cosine between
    * mean vectors — the audit a re-embedding run needs before its vectors
    * are trusted; everything past the one explode is dim-domain-sized.
    */
  private def q328(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.embeddingDrift(
        T(s, dir, "embeddings"), "embedding", col("label") % 2 === 0)
      .orderBy(col("dim"))

  // per-dim decimal sums of 1e-6-rounded components; cosine of mean
  // vectors from 1e-12-grid cross-dim products
  query("q328_embedding_drift", q328)(Sql(
    """WITH x AS (SELECT label % 2 = 0 AS isa, unnest(list_zip(embedding, range(0, len(embedding)))) AS z FROM embeddings), d AS (SELECT CAST(z[2] AS BIGINT) AS dim, isa, CAST(round(CAST(z[1] AS DOUBLE), 6) AS DECIMAL(18,6)) AS c FROM x), a AS (SELECT dim, SUM(CASE WHEN isa THEN c END) AS sa, CAST(SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS na, SUM(CASE WHEN NOT isa THEN c END) AS sb, CAST(SUM(CASE WHEN NOT isa THEN 1 ELSE 0 END) AS BIGINT) AS nb FROM d GROUP BY 1), mm AS (SELECT dim, CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma, CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb FROM a), g AS (SELECT dim, ma, mb, CAST(round(ma * mb, 12) AS DECIMAL(30,12)) AS ab, CAST(round(ma * ma, 12) AS DECIMAL(30,12)) AS aa, CAST(round(mb * mb, 12) AS DECIMAL(30,12)) AS bb FROM mm) SELECT dim, round(ma, 6) AS mean_a, round(mb, 6) AS mean_b, round(ma - mb, 6) AS shift, round(CAST(SUM(ab) OVER () AS DOUBLE) / (sqrt(CAST(SUM(aa) OVER () AS DOUBLE)) * sqrt(CAST(SUM(bb) OVER () AS DOUBLE))), 6) AS mean_cosine FROM g ORDER BY dim"""))

  /** Per-document BYTE ENTROPY over the payload bytes — the multimodal
    * corruption/quality detector (truncated or zero-padded blobs crater;
    * compressed/encrypted ones saturate): a one-pass codegen byte census
    * ([[graft.plans.ByteHistogram]], 256-long array per doc) finished in
    * array HOFs — no row per byte ever exists, where the explode
    * formulation pushed ~corpus-bytes intermediate rows through the scan
    * stage (~10¹⁴ at 100 TB; SURVEY.md §5 has the measured gap). Entropy terms
    * stay on the 1e-9 decimal grid summed exactly, so the hash matches
    * the hex-pair oracle bit-for-bit. The payload here is the document's
    * utf8 bytes — the plumbing carries to any binary column.
    */
  private def q332(s: SparkSession, dir: String): DataFrame = {
    T(s, dir, "documents")
      .select(col("doc_id"),
        graft.plans.TextHashExpressions.byteHistogram(col("text").cast("binary"))
          .as("hist"))
      .withColumn("n_bytes", expr("aggregate(hist, 0L, (a, c) -> a + c)"))
      .filter(col("n_bytes") > 0)
      .withColumn("present", expr("filter(hist, c -> c > 0)"))
      .select(col("doc_id"), col("n_bytes"),
        size(col("present")).cast("long").as("n_distinct_bytes"),
        expr("""CAST(aggregate(
            transform(present, c -> CAST(round(
              -(CAST(c AS DOUBLE) / CAST(n_bytes AS DOUBLE)) *
                ln(CAST(c AS DOUBLE) / CAST(n_bytes AS DOUBLE)), 9)
              AS DECIMAL(18,9))),
            CAST(0 AS DECIMAL(18,9)),
            (a, t) -> CAST(a + t AS DECIMAL(18,9))) AS DOUBLE)""").as("entropy"))
      .orderBy(col("doc_id"))
  }

  // hex-pair byte census, per-byte -p*ln(p) on the 1e-9 grid
  query("q332_blob_entropy", q332)(Sql(
    """WITH d AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents), b AS (SELECT doc_id, unnest(list_transform(range(0, length(hx) // 2), i -> substr(hx, CAST(i * 2 + 1 AS INTEGER), 2))) AS byte FROM d), c AS (SELECT doc_id, byte, COUNT(*) AS c FROM b GROUP BY 1, 2), t AS (SELECT doc_id, byte, c, CAST(SUM(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n FROM c), e AS (SELECT doc_id, n, CAST(round(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS DECIMAL(18,9)) AS term FROM t) SELECT doc_id, MAX(n) AS n_bytes, COUNT(*) AS n_distinct_bytes, CAST(SUM(term) AS DOUBLE) AS entropy FROM e GROUP BY 1 ORDER BY 1"""))

  /** MinHash-LSH RECALL METER against exact shingle-Jaccard ground truth
    * on a capped evaluation sample — q215's "measured, not assumed"
    * discipline applied to dedup: truth = exact 3-shingle Jaccard ≥ 0.35
    * (all pairs over the broadcast sample), candidates = the production
    * q84 minhash pipeline at its 0.3 threshold; emits hit counts +
    * precision/recall. This is exactly how a corpus pipeline audits its
    * banding config before trusting it at 100 TB.
    */
  private def q340(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val docs = T(s, dir, "documents").filter(col("doc_id") < 300)
    val sets = Dedup.shingleHashRows(docs, "doc_id", "text", 3)
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_set(col("sh"))).as("g"))
    // all-pairs ONLY over the capped broadcast sample (45k pairs) — the
    // labeled-sample shape, never the corpus
    val truth = sets.select(col("doc_id").as("id_a"), col("g").as("ga"))
      .join(broadcast(sets.select(col("doc_id").as("id_b"), col("g").as("gb"))),
        col("id_a") < col("id_b"))
      .filter(size(array_intersect(col("ga"), col("gb"))).cast("double") /
        size(array_union(col("ga"), col("gb"))).cast("double") >= 0.35)
      .select(col("id_a"), col("id_b"), lit(1L).as("t"))
    val cand = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
        threshold = 0.3)
      .select(col("id_a"), col("id_b"), lit(1L).as("c"))
    truth.join(cand, Seq("id_a", "id_b"), "full")
      .agg(sum(col("t")).as("n_truth"), sum(col("c")).as("n_cand"),
        sum(col("t") * col("c")).as("n_hit"))
      .select(col("n_truth"), col("n_cand"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_truth").cast("double"), 6)
          .as("recall"),
        round(col("n_hit").cast("double") / col("n_cand").cast("double"), 6)
          .as("precision"))
  }

  // truth = exact 3-shingle Jaccard >= 0.35 on the capped sample;
  // candidates = the q84 minhash pipeline at 0.3; meter = hits over both
  query("q340_dedup_recall", q340)(Sql(
    s"""$HASH_MACROS; WITH hs AS ($DOC_HASHES), shingled AS (SELECT doc_id, list_transform(range(CASE WHEN n >= 3 THEN n - 2 ELSE 1 END), p -> shmix(shmix(h[p+1], coalesce(h[p+2], ${padLit(1)})), coalesce(h[p+3], ${padLit(2)}))) AS sh FROM hs WHERE doc_id < 300), sets AS (SELECT doc_id AS id, list_sort(list_distinct(list_transform(sh, s -> tosigned(s)))) AS g FROM shingled), tp AS (SELECT a.id AS id_a, b.id AS id_b FROM sets a JOIN sets b ON a.id < b.id WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE) >= 0.35), sigs AS (SELECT doc_id AS id, $sigSql AS sig FROM shingled), bands AS (SELECT id, sig, unnest(list_zip([${(0 until 8).map(bandSql).mkString(", ")}], [0,1,2,3,4,5,6,7])) AS z FROM sigs), wb AS (SELECT id, sig, z[2] AS band_idx, z[1] AS band_hash, ROW_NUMBER() OVER (PARTITION BY z[2], z[1] ORDER BY id) AS rn FROM bands), cp AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b FROM wb a JOIN wb b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.id < b.id WHERE a.rn <= 64 AND b.rn <= 64 AND CAST(len(list_filter(range(32), i -> a.sig[i+1] = b.sig[i+1])) AS DOUBLE) / 32.0 >= 0.3), j AS (SELECT CASE WHEN tp.id_a IS NOT NULL THEN 1 ELSE 0 END AS t, CASE WHEN cp.id_a IS NOT NULL THEN 1 ELSE 0 END AS c FROM tp FULL OUTER JOIN cp ON tp.id_a = cp.id_a AND tp.id_b = cp.id_b), a AS (SELECT CAST(SUM(t) AS BIGINT) AS n_truth, CAST(SUM(c) AS BIGINT) AS n_cand, CAST(SUM(t * c) AS BIGINT) AS n_hit FROM j) SELECT n_truth, n_cand, n_hit, round(CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE), 6) AS recall, round(CAST(n_hit AS DOUBLE) / CAST(n_cand AS DOUBLE), 6) AS precision FROM a"""))

  /** Quantile-sketch ERROR METER: q316's bottom-k estimates audited
    * against their observed ranks in the full data — |rank(est) − q| per
    * quantile, the "measured, not assumed" loop (q215 for ANN, q340 for
    * dedup) closed for the sketch shelf; one broadcast of the 3-row
    * estimate spine against a single corpus scan.
    */
  private def q344(s: SparkSession, dir: String): DataFrame = {
    val sk = graft.operators.Sketches.quantileSketch(
      T(s, dir, "events"),
      expr("date_format(timestamp_seconds(ts div 1000000000), 'yyyy-MM-dd')"),
      "event_id", "value", 256, Seq(0.5, 0.9, 0.99))
    T(s, dir, "events").select(col("value").cast("double").as("v"))
      .crossJoin(broadcast(sk))
      .groupBy(col("quantile"), col("est"), col("n_total"))
      .agg(sum(when(col("v") <= col("est"), 1L).otherwise(0L)).as("n_le"))
      .select(col("quantile"), col("est"), col("n_le"), col("n_total"),
        round(abs(col("n_le").cast("double") / col("n_total").cast("double") -
          col("quantile")), 6).as("rank_error"))
      .orderBy(col("quantile"))
  }

  // observed rank of each bottom-k estimate vs its target quantile
  query("q344_sketch_error", q344)(Sql(
    """WITH e AS (SELECT strftime(ts, '%Y-%m-%d') AS seg, event_id AS id, CAST(value AS DOUBLE) AS v, CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h FROM events), sk AS (SELECT seg, h, id, v FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY seg ORDER BY h, id) AS rn FROM e) WHERE rn <= 256), m AS (SELECT v FROM (SELECT v, ROW_NUMBER() OVER (ORDER BY h, id) AS grn FROM sk) WHERE grn <= 256), arr AS (SELECT list_sort(list(v)) AS vals, COUNT(*) AS kk FROM m), tot AS (SELECT COUNT(*) AS n_total FROM e), spine AS (SELECT * FROM (VALUES (0.5), (0.9), (0.99)) AS t(q)), est AS (SELECT q AS quantile, vals[CAST(GREATEST(1, CEIL(q * kk)) AS INTEGER)] AS est, n_total FROM spine, arr, tot) SELECT quantile, est, CAST(SUM(CASE WHEN e2.v <= est THEN 1 ELSE 0 END) AS BIGINT) AS n_le, n_total, round(abs(CAST(SUM(CASE WHEN e2.v <= est THEN 1 ELSE 0 END) AS BIGINT) / CAST(n_total AS DOUBLE) - quantile), 6) AS rank_error FROM est, e e2 GROUP BY quantile, est, n_total ORDER BY quantile"""))

  /** END-TO-END corpus-prep FUNNEL — the whole pre-training pipeline as
    * ONE declarative plan with a per-stage audit: quality gates → bench
    * exclusion → language gate → exact dedup (min-id per normalized
    * text) → 4-gram DECONTAMINATION against the benchmark probes
    * ([[graft.operators.TextPipeline.contamination]], strict-minority
    * overlap) → per-language BALANCED downsample
    * ([[graft.operators.Sampling.balancedDownsample]]). The emitted
    * (stage, lang, n_docs) funnel is the report a data lead signs off
    * on; every stage is an already-oracle-proven operator composed, and
    * the whole funnel is itself hash-gated.
    */
  private def q350(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions
    val raw = T(s, dir, "documents")
    // One text pass annotates every doc with its funnel verdicts (stage
    // unions otherwise re-derive the wordCount/md5 pipeline per branch —
    // the corpus was parsed 4×); the checkpointed flag frame is slim
    // (id, lang, two booleans, one md5), and each stage count below is a
    // filter over it. Stage predicates are verbatim, so counts are
    // row-identical to the chained-filter spelling.
    val ann = raw.select(col("doc_id"), col("lang"),
        (TextFunctions.wordCount(col("text")) >= 10 &&
          col("n_chars") >= 50 && col("doc_id") % 97 =!= 0).as("ok1"),
        md5(array_join(TextFunctions.words(col("text")), " ")).as("__k"))
      .withColumn("ok2",
        col("ok1") && col("lang").isin("en", "es", "fr"))
      .localCheckpoint(true)
    val s3 = ann.filter(col("ok2"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__k")).orderBy(col("doc_id"))))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("lang"))
      .localCheckpoint(true)
    // contamination needs the TEXT of the surviving + benchmark docs —
    // the one remaining corpus pass (4-gram shingles), same input set as
    // the chained spelling (s3 ∪ bench are disjoint: s1 excludes % 97)
    val cont = graft.operators.TextPipeline.contamination(
      raw.select(col("doc_id"), col("text"))
        .join(s3.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .unionByName(raw.filter(col("doc_id") % 97 === 0)
          .select(col("doc_id"), col("text"))),
      col("doc_id") % 97 === 0, n = 4)
    val s4 = s3.join(
      cont.filter(col("n_hits") * 2 < col("n_shingles")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
      .localCheckpoint(true)
    val s5 = graft.operators.Sampling.balancedDownsample(s4, "lang", "doc_id")
    def stage(name: String, df: DataFrame): DataFrame =
      df.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .select(lit(name).as("stage"), col("lang"), col("n_docs"))
    stage("s0_raw", raw)
      .unionByName(stage("s1_quality", ann.filter(col("ok1"))))
      .unionByName(stage("s2_lang", ann.filter(col("ok2"))))
      .unionByName(stage("s3_exact_dedup", s3))
      .unionByName(stage("s4_decontaminated", s4))
      .unionByName(stage("s5_balanced", s5))
      .orderBy(col("stage"), col("lang"))
  }

  // the staged funnel replays stage by stage: quality → bench-exclude →
  // lang → min-id exact dedup → 4-gram decontamination (q141's gram
  // fragment) → hash-ranked balanced downsample (q329's rule)
  query("q350_pipeline_funnel", q350)(Sql(
    s"""$HASH_MACROS; WITH w AS (SELECT doc_id, lang, n_chars, docwords(text) AS ws FROM documents), s1 AS (SELECT * FROM w WHERE len(ws) >= 10 AND n_chars >= 50 AND doc_id % 97 <> 0), s2 AS (SELECT * FROM s1 WHERE lang IN ('en', 'es', 'fr')), k AS (SELECT doc_id, lang, ws, md5(array_to_string(ws, ' ')) AS kk FROM s2), s3 AS (SELECT k.doc_id, k.lang, k.ws FROM k JOIN (SELECT kk AS k2, MIN(doc_id) AS md FROM k GROUP BY 1) m ON k.kk = m.k2 AND k.doc_id = m.md), bg0 AS (SELECT unnest(list_transform(range(1, len(ws) - 2), i -> array_to_string(ws[i:i+3], ' '))) AS gram FROM w WHERE doc_id % 97 = 0 AND len(ws) >= 4), bg AS (SELECT DISTINCT gram FROM bg0), dg0 AS (SELECT doc_id, lang, unnest(list_transform(range(1, len(ws) - 2), i -> array_to_string(ws[i:i+3], ' '))) AS gram FROM s3 WHERE len(ws) >= 4), dg AS (SELECT DISTINCT doc_id, lang, gram FROM dg0), ct AS (SELECT dg.doc_id, dg.lang, COUNT(*) AS ns, CAST(SUM(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nh FROM dg LEFT JOIN bg ON dg.gram = bg.gram GROUP BY 1, 2), s4 AS (SELECT doc_id, lang FROM ct WHERE nh * 2 < ns), mn AS (SELECT MIN(n) AS m FROM (SELECT COUNT(*) AS n FROM s4 GROUP BY lang)), r5 AS (SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT), doc_id) AS rn FROM s4), s5 AS (SELECT doc_id, lang FROM r5, mn WHERE rn <= m), f AS (SELECT 's0_raw' AS stage, lang, COUNT(*) AS n_docs FROM w GROUP BY 2 UNION ALL SELECT 's1_quality', lang, COUNT(*) FROM s1 GROUP BY 2 UNION ALL SELECT 's2_lang', lang, COUNT(*) FROM s2 GROUP BY 2 UNION ALL SELECT 's3_exact_dedup', lang, COUNT(*) FROM s3 GROUP BY 2 UNION ALL SELECT 's4_decontaminated', lang, COUNT(*) FROM s4 GROUP BY 2 UNION ALL SELECT 's5_balanced', lang, COUNT(*) FROM s5 GROUP BY 2) SELECT stage, lang, n_docs FROM f ORDER BY stage, lang"""))

  /** GROUPED quantile sketches
    * ([[graft.operators.Sketches.quantileSketchGrouped]]): per-event-type
    * bottom-k samples → per-type p50/p90/p99 — the per-tenant latency
    * dashboard; all windows group-keyed, everything after the build is
    * k·|groups|-sized.
    */
  private def q352(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.quantileSketchGrouped(
      T(s, dir, "events"), "event_type",
      expr("date_format(timestamp_seconds(ts div 1000000000), 'yyyy-MM-dd')"),
      "event_id", "value", 128, Seq(0.5, 0.9, 0.99))

  // per-group bottom-k replay: (g, seg) build windows, g-keyed merge
  query("q352_grouped_quantile_sketch", q352)(Sql(
    """WITH e AS (SELECT event_type AS g, strftime(ts, '%Y-%m-%d') AS seg, event_id AS id, CAST(value AS DOUBLE) AS v, CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h FROM events), sk AS (SELECT g, seg, h, id, v FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY g, seg ORDER BY h, id) AS rn FROM e) WHERE rn <= 128), m AS (SELECT g, v FROM (SELECT g, v, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h, id) AS grn FROM sk) WHERE grn <= 128), arr AS (SELECT g, list_sort(list(v)) AS vals, COUNT(*) AS kk FROM m GROUP BY 1), tot AS (SELECT g, COUNT(*) AS n_total FROM e GROUP BY 1), spine AS (SELECT * FROM (VALUES (0.5), (0.9), (0.99)) AS t(q)) SELECT arr.g AS event_type, q AS quantile, vals[CAST(GREATEST(1, CEIL(q * kk)) AS INTEGER)] AS est, kk AS sample_k, n_total FROM spine, arr JOIN tot ON arr.g = tot.g ORDER BY event_type, quantile"""))

  /** MMR DIVERSIFIED re-ranking ([[graft.operators.Similarity.mmrRerank]]):
    * each query's top-24 cosine candidates greedily reduced to 8 by
    * `0.7·rel − 0.3·max-sim-to-selected` — the redundancy-penalized
    * shelf relevance-only ranking (q26/q209) can't express. The whole
    * sequential selection runs inside one row per query (the q353
    * nested-HOF-fold pattern); scores live on the 4-decimal grid where
    * VecCosine and pcos are bit-equal, and the oracle replays the greedy
    * walk as a recursive CTE carrying the selected list.
    */
  private def q357(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    graft.operators.Similarity.mmrRerank(
      emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
      m = 24, k = 8, lamRel = 0.7, lamDiv = 0.3)
  }

  // the greedy MMR walk replayed as a recursive CTE carrying the
  // selected list; scores on the 4-decimal grid where pcos == VecCosine
  query("q357_mmr_rerank", q357)(Sql(
    s"""$VEC_MACROS; WITH RECURSIVE qv AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5), sc AS (SELECT qv.qid, e2.vec_id AS nid, round(pcos(qv.qe, e2.embedding), 4) AS rel, e2.embedding AS nv FROM qv CROSS JOIN embeddings e2 WHERE e2.vec_id <> qv.qid), c0 AS (SELECT qid, nid, rel, nv, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC NULLS LAST, nid) AS rnk FROM sc), cand AS (SELECT qid, list(struct_pack(nid := nid, rel := rel, nv := nv) ORDER BY nid) AS cs FROM c0 WHERE rnk <= 24 GROUP BY qid), rec AS (SELECT qid, CAST(0 AS BIGINT) AS step, CAST([] AS BIGINT[]) AS sel FROM cand UNION ALL SELECT r.qid, r.step + 1, list_append(r.sel, list_reduce(list_filter(list_transform(range(1, len(c.cs) + 1), jj -> struct_pack(s := 0.7 * c.cs[CAST(jj AS INTEGER)]['rel'] - 0.3 * (CASE WHEN len(r.sel) = 0 THEN 0.0 ELSE list_reduce(list_transform(r.sel, si -> round(pcos(c.cs[CAST(jj AS INTEGER)]['nv'], c.cs[CAST(si AS INTEGER)]['nv']), 4)), (m1, m2) -> CASE WHEN m2 > m1 THEN m2 ELSE m1 END) END), j := jj, ok := NOT list_contains(r.sel, jj))), st -> st['ok']), (a1, e1) -> CASE WHEN e1['s'] > a1['s'] THEN e1 ELSE a1 END)['j']) FROM rec r JOIN cand c ON c.qid = r.qid WHERE r.step < 8) SELECT r.qid, r.step, CAST(c.cs[CAST(r.sel[CAST(r.step AS INTEGER)] AS INTEGER)]['nid'] AS BIGINT) AS nid FROM rec r JOIN cand c ON c.qid = r.qid WHERE r.step >= 1 ORDER BY r.qid, r.step"""))

  /** EXACT pairwise AUDIENCE OVERLAP
    * ([[graft.operators.Sketches.bitmapOverlap]]): shared users between
    * every pair of event types from the bitmap store — facts scanned
    * once into word cells, each pair answered by popcount(AND) over the
    * word-aligned cell join; exact, the precision companion to q260's
    * KMV estimate. Oracle is the semantic COUNT-DISTINCT pair join
    * (the q177 posture: the bitmap is the mechanism, not the meaning).
    */
  private def q366(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.bitmapOverlap(
      T(s, dir, "events"), "event_type", "user_id")

  // the bitmap is the mechanism, not the meaning: the overlap matrix
  // replays as the plain distinct-pair join
  query("q366_audience_overlap", q366)(Sql(
    """WITH s AS (SELECT DISTINCT event_type AS g, user_id AS u FROM events), n AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY 1), p AS (SELECT a.g AS ga, b.g AS gb, CAST(COUNT(*) AS BIGINT) AS n_inter FROM s a JOIN s b ON a.u = b.u AND a.g < b.g GROUP BY 1, 2) SELECT p.ga, p.gb, na.n AS n_a, nb.n AS n_b, p.n_inter, round(CAST(p.n_inter AS DOUBLE) / CAST(na.n + nb.n - p.n_inter AS DOUBLE), 6) AS jaccard FROM p JOIN n na ON na.g = p.ga JOIN n nb ON nb.g = p.gb ORDER BY p.ga, p.gb"""))

  /** GOOD–TURING unseen mass per language
    * ([[graft.operators.TextPipeline.goodTuring]]): singleton mass N₁/N
    * as the expected never-seen-type share of the next token — the
    * no-vocab coverage-risk ranking beside q262's fixed-vocab OOV rate.
    */
  private def q377(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.goodTuring(T(s, dir, "documents"), "lang")
      .orderBy(col("lang"))

  // count-of-counts census; singleton mass N1/N per language
  query("q377_good_turing", q377)(Sql(
    """WITH w AS (SELECT lang, unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w FROM documents), c AS (SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c FROM w GROUP BY 1, 2) SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tokens, CAST(COUNT(*) AS BIGINT) AS n_types, CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons, CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_doubletons, round(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS unseen_mass FROM c GROUP BY lang ORDER BY lang"""))

  /** REPLAYABLE HyperLogLog ([[graft.operators.Sketches.hllRegisters]] /
    * hllEstimate): register-level HLL whose every register and estimate
    * hash-matches cross-engine — the exact-oracle upgrade of the q37/
    * q119 family (whose built-in HLL++ internals are rows-only
    * checkable). Per event_type plus the '(all)' row MERGED from the
    * per-type registers (max per bucket) — the mergeability proof — with
    * exact distincts and relative error beside each estimate.
    */
  private def q379(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
    val perType =
      graft.operators.Sketches.hllRegisters(ev, "event_type", "user_id")
    val merged = perType.groupBy(col("j")).agg(max(col("m")).as("m"))
      .withColumn("g", lit("(all)")).select("g", "j", "m")
    val est = graft.operators.Sketches.hllEstimate(
      perType.unionByName(merged))
    val exact = ev.groupBy(col("event_type").as("g"))
      .agg(count_distinct(col("user_id")).as("n_exact"))
      .unionByName(ev.agg(count_distinct(col("user_id")).as("n_exact"))
        .withColumn("g", lit("(all)")).select("g", "n_exact"))
    est.join(exact, "g")
      .withColumn("rel_error",
        round((col("estimate") - col("n_exact").cast("double")) /
          col("n_exact").cast("double"), 6))
      .orderBy(col("g"))
  }

  // register-for-register HLL replay; 2^-M terms on the 1e-18 grid
  query("q379_hll_registers", q379)(Sql(hllOracleSql))

  /** Kneser–Ney bigram scoring
    * ([[graft.operators.TextPipeline.knBigram]]): q231's raw-MLE
    * surprisal upgraded to the standard smoothed LM — absolute discount
    * 0.75 with the continuation-count back-off, all inputs exact
    * integer censuses of the bigram-type domain, one pinned double
    * probability per transition on the 1e-9 grid.
    */
  private def q414(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.knBigram(
      T(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  // exact type censuses; one pinned double probability per term
  query("q414_kneser_ney", q414)(Sql(
    """WITH wl AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws FROM documents), w AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos FROM wl), b AS (SELECT doc_id, coalesce(lag(w) OVER (PARTITION BY doc_id ORDER BY pos), '<s>') AS prev, w FROM w), cp AS (SELECT prev, w, CAST(COUNT(*) AS BIGINT) AS c_pair FROM b GROUP BY 1, 2), cf AS (SELECT prev, CAST(SUM(c_pair) AS BIGINT) AS c_first, CAST(COUNT(*) AS BIGINT) AS n_after FROM cp GROUP BY 1), ct AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_prec FROM cp GROUP BY 1), nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM cp), t AS (SELECT doc_id, CAST(round(-ln((GREATEST(CAST(c_pair AS DOUBLE) - 0.75, 0.0) + 0.75 * CAST(n_after AS DOUBLE) * (CAST(n_prec AS DOUBLE) / CAST(n_types AS DOUBLE))) / CAST(c_first AS DOUBLE)), 9) AS DECIMAL(28,9)) AS nll FROM b JOIN cp USING (prev, w) JOIN cf USING (prev) JOIN ct USING (w) CROSS JOIN nt) SELECT doc_id, COUNT(*) AS n_trans, round(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS avg_nll FROM t GROUP BY doc_id ORDER BY doc_id"""))

  /** Retrieval evaluation ([[graft.operators.Similarity.rankingMetrics]]):
    * NDCG@10 / MAP@10 / MRR per query over the exact cosine top-10 with
    * same-label binary relevance — the metrics half the vector shelf
    * (q26 knn, q209 RRF, q357 MMR) needs before anyone tunes it. DCG
    * discounts and IDCG prefix sums are pinned 12-decimal literals (no
    * libm log either engine); per-rank terms quantized to DECIMAL(18,12)
    * before the order-independent sums.
    */
  private def q431(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    graft.operators.Similarity.rankingMetrics(
        emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding", "label",
        k = 10)
      .orderBy(col("qid"))
  }

  // pinned discount/IDCG literals; exact-division terms on the
  // 1e-12 decimal grid; same-label relevance from the label census
  query("q431_ranking_metrics", q431)(Sql(
    s"""$VEC_MACROS; WITH qv AS (SELECT vec_id AS qid, embedding AS qe, label AS qlabel FROM embeddings WHERE vec_id < 8), sc AS (SELECT qv.qid, qv.qlabel, e.vec_id AS nid, round(pcos(qv.qe, e.embedding), 4) AS score, CASE WHEN e.label = qv.qlabel THEN 1 ELSE 0 END AS rel FROM qv CROSS JOIN embeddings e WHERE e.vec_id <> qv.qid), rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC NULLS LAST, nid) AS rnk FROM sc), tk AS (SELECT *, CAST(SUM(rel) OVER (PARTITION BY qid ORDER BY rnk ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumrel FROM rk WHERE rnk <= 10), pq AS (SELECT qid, qlabel, CAST(SUM(rel) AS BIGINT) AS n_rel_at_k, MIN(CASE WHEN rel = 1 THEN rnk END) AS first_rel, SUM(CAST(round(CASE WHEN rel = 1 THEN CAST(cumrel AS DOUBLE) / CAST(rnk AS DOUBLE) ELSE 0.0 END, 12) AS DECIMAL(18,12))) AS ap_sum, SUM(CAST(round(CASE WHEN rel = 1 THEN [1.000000000000, 0.630929753571, 0.500000000000, 0.430676558073, 0.386852807235, 0.356207187108, 0.333333333333, 0.315464876786, 0.301029995664, 0.289064826318][CAST(rnk AS INTEGER)] ELSE 0.0 END, 12) AS DECIMAL(18,12))) AS dcg FROM tk GROUP BY 1, 2), lc AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_label FROM embeddings GROUP BY 1), fin AS (SELECT pq.*, COALESCE(lc.n_label - 1, 0) AS r_total, LEAST(COALESCE(lc.n_label - 1, 0), 10) AS eff_k FROM pq LEFT JOIN lc ON pq.qlabel = lc.label) SELECT qid, qlabel AS label, r_total, n_rel_at_k, CASE WHEN eff_k > 0 THEN round(COALESCE(1.0 / CAST(first_rel AS DOUBLE), 0.0), 6) END AS mrr, CASE WHEN eff_k > 0 THEN round(CAST(ap_sum AS DOUBLE) / CAST(eff_k AS DOUBLE), 6) END AS ap, CASE WHEN eff_k > 0 THEN round(CAST(dcg AS DOUBLE) / ([0.000000000000, 1.000000000000, 1.630929753571, 2.130929753571, 2.561606311645, 2.948459118879, 3.304666305987, 3.637999639321, 3.953464516106, 4.254494511770, 4.543559338088][CAST(eff_k AS INTEGER) + 1]), 6) END AS ndcg FROM fin ORDER BY qid"""))

  /** Temperature-scaled mixing table
    * ([[graft.operators.Sampling.temperatureMixing]]): per-language
    * sampling weights pᵢ ∝ √tokensᵢ over the documents corpus with a
    * 1M-token budget — the α = 0.5 multilingual up-sampling recipe;
    * √tokens is IEEE-exact on both engines, weights summed as decimals,
    * per-group effective epochs flag over-sampling.
    */
  private def q432(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.temperatureMixing(
      T(s, dir, "documents").select(col("lang"),
        graft.functions.TextFunctions.wordCount(col("text")).as("tokens")),
      "lang", "tokens", tokenBudget = 1000000L)
      .orderBy(col("g"))

  // IEEE-exact sqrt weights on the 1e-6 grid, decimal-summed; one
  // pinned ratio per group
  query("q432_temperature_mix", q432)(Sql(
    """WITH d AS (SELECT lang AS g, CAST(array_length(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS BIGINT) AS tokens FROM documents), c AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(tokens) AS BIGINT) AS n_tokens FROM d GROUP BY g), w AS (SELECT *, CAST(round(sqrt(CAST(n_tokens AS DOUBLE)), 6) AS DECIMAL(18,6)) AS w FROM c), z AS (SELECT SUM(w) AS z FROM w) SELECT g, n_docs, n_tokens, round(CAST(w.w AS DOUBLE) / CAST(z.z AS DOUBLE), 9) AS weight, round(CAST(w.w AS DOUBLE) / CAST(z.z AS DOUBLE) * 1000000.0, 6) AS tokens_per_epoch, round(CAST(w.w AS DOUBLE) / CAST(z.z AS DOUBLE) * 1000000.0 / CAST(n_tokens AS DOUBLE), 6) AS eff_epochs FROM w, z ORDER BY g"""))

  /** RAKE keyword extraction
    * ([[graft.operators.TextPipeline.rakeKeywords]]): top-20 candidate
    * PHRASES (maximal stopword-free runs) scored by Σ degree/frequency
    * of their words — the collocation-aware phrase ranker beside q423's
    * single-word TextRank; stopword island segmentation per doc,
    * word-domain stats, 1e-9-grid word scores decimal-summed per phrase.
    */
  private def q434(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.rakeKeywords(
      T(s, dir, "documents"), "doc_id", "text", topN = 20)
      .orderBy(col("rank"))

  // stopword-island segmentation; degree/freq on the 1e-9 grid,
  // decimal phrase sums; identical text ⇒ identical score
  query("q434_rake_keywords", q434)(Sql(
    """WITH wl AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws FROM documents), tk AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos FROM wl), st AS (SELECT doc_id, pos, w, (w IN ('the', 'a', 'an', 'and', 'of', 'to', 'in', 'is', 'on', 'for', 'with', 'as', 'by', 'at', 'or', 'be', 'this', 'that', 'it', 'from') OR w = '') AS stop FROM tk), gp AS (SELECT doc_id, pos, w, stop, SUM(CASE WHEN stop THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp FROM st), ph AS (SELECT doc_id, grp, pos, w, COUNT(*) OVER (PARTITION BY doc_id, grp) AS plen FROM gp WHERE NOT stop), ws2 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq, CAST(SUM(plen) AS BIGINT) AS deg FROM ph GROUP BY w), wsc AS (SELECT w, CAST(round(CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE), 9) AS DECIMAL(18,9)) AS wscore FROM ws2), pr AS (SELECT ph.doc_id, ph.grp, string_agg(ph.w, ' ' ORDER BY ph.pos) AS phrase, CAST(COUNT(*) AS BIGINT) AS n_words, SUM(wsc.wscore) AS score FROM ph JOIN wsc ON ph.w = wsc.w GROUP BY 1, 2), dd AS (SELECT phrase, MAX(n_words) AS n_words, CAST(COUNT(*) AS BIGINT) AS n_occurrences, MAX(score) AS score FROM pr GROUP BY phrase), rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, phrase) AS rnk FROM dd) SELECT CAST(rnk AS BIGINT) AS rank, phrase, n_words, n_occurrences, round(CAST(score AS DOUBLE), 6) AS score FROM rk WHERE rnk <= 20 ORDER BY rank"""))

  /** Gopher rule gate ([[graft.operators.TextPipeline.gopherRules]]):
    * the composite MassiveText heuristic battery — mean word length
    * band, alphabetic-word share, symbol ratio, 2-of-8 stopwords —
    * plus the pass/fail verdict, all as row-local array expressions.
    */
  private def q482(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.gopherRules(
      T(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  // row-local array-expression signals; pass compares the ROUNDED
  // columns on both engines; pinned thresholds + stopword list
  query("q482_gopher_rules", q482)(Sql(
    s"""$HASH_MACROS; WITH w AS (SELECT doc_id, text, docwords(text) AS ws FROM documents), m AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words, round(CAST(list_sum(list_transform(ws, w2 -> CAST(length(w2) AS BIGINT))) AS DOUBLE) / CAST(len(ws) AS DOUBLE), 6) AS mean_word_len, round(CAST(len(list_filter(ws, w3 -> regexp_matches(w3, '[a-z]'))) AS DOUBLE) / CAST(len(ws) AS DOUBLE), 6) AS alpha_word_share, CAST(len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS n_symbols, round(CAST(len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE) / CAST(len(ws) AS DOUBLE), 6) AS symbol_ratio, CAST(len(list_filter(['the','be','to','of','and','that','have','with'], s2 -> list_contains(ws, s2))) AS BIGINT) AS stop_hits FROM w) SELECT *, n_words >= 10 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0 AND alpha_word_share >= 0.8 AND symbol_ratio <= 0.1 AND stop_hits >= 2 AS pass FROM m ORDER BY doc_id"""))

  /** DSIR importance weights ([[graft.operators.TextPipeline.dsirWeights]]):
    * every document scored by how much more likely its hashed-unigram
    * profile is under the English target slice than under the raw
    * corpus — the importance-resampling data-selection score (hashed
    * n-gram DSIR) beside the rule gates; 64 hash buckets, add-one
    * smoothing, log-ratios on exact integer cross-products.
    */
  private def q479(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.dsirWeights(
      T(s, dir, "documents"), "doc_id", "text", col("lang") === "en", 64)
      .orderBy(col("doc_id"))

  // hashed-unigram bucket censuses; ln over exact integer
  // cross-products; count×grid-decimal per-doc sums
  query("q479_dsir_weights", q479)(Sql(
    """WITH w0 AS (SELECT doc_id, lang = 'en' AS tgt, unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w FROM documents), w2 AS (SELECT doc_id, tgt, CAST(concat('0x', substr(md5(w), 1, 13)) AS BIGINT) % 64 AS b FROM w0 WHERE w <> ''), dcb AS (SELECT doc_id, tgt, b, CAST(COUNT(*) AS BIGINT) AS cnt FROM w2 GROUP BY 1, 2, 3), src AS (SELECT b, CAST(SUM(cnt) AS BIGINT) AS cs FROM dcb GROUP BY b), tg AS (SELECT b, CAST(SUM(cnt) AS BIGINT) AS ct FROM dcb WHERE tgt GROUP BY b), tot AS (SELECT (SELECT CAST(SUM(cs) AS BIGINT) FROM src) AS ns, (SELECT CAST(SUM(ct) AS BIGINT) FROM tg) AS nt), lr AS (SELECT src.b, CAST(round(ln(CAST(CAST(COALESCE(tg.ct, 0) + 1 AS DECIMAL(38,0)) * (tot.ns + 64) AS DOUBLE) / CAST(CAST(src.cs + 1 AS DECIMAL(38,0)) * (tot.nt + 64) AS DOUBLE)), 9) AS DECIMAL(18,9)) AS lr FROM src LEFT JOIN tg ON src.b = tg.b, tot), agg AS (SELECT dcb.doc_id, CAST(SUM(dcb.cnt) AS BIGINT) AS n_tokens, CAST(SUM(CAST(dcb.cnt AS DECIMAL(18,0)) * lr.lr) AS DOUBLE) AS lw FROM dcb JOIN lr ON dcb.b = lr.b GROUP BY dcb.doc_id) SELECT doc_id, n_tokens, round(lw, 6) AS log_weight, lw > 0.0 AS target_like FROM agg ORDER BY doc_id"""))

  /** Multi-iteration BPE trainer ([[graft.operators.TextPipeline.bpeTrain]]):
    * 8 rounds of count-pairs → argmax → merge-everywhere over the
    * distinct-word table — the ordered merge list a BPE tokenizer ships,
    * where q157 stops after round one's statistics. The oracle unrolls
    * the identical 8 rounds (census → LIMIT 1 argmax → literal replace on
    * the delimited symbol string) as MATERIALIZED CTEs.
    */
  private def q475(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.bpeTrain(T(s, dir, "documents"), "text", 8)
      .orderBy(col("rank"))

  // 8 unrolled census → argmax → greedy-replace rounds
  query("q475_bpe_train", q475)(Sql(bpeTrainOracleSql(8)))

  /** ANN recall sweep ([[graft.operators.Similarity.recallSweep]]):
    * brute-force exact top-10 over the 10-query sample as ground truth;
    * 2-band LSH and IVF at nProbe ∈ {1,2,4} each scored by corpus-wide
    * recall@10 — the measured index-quality table the §2.4 family's
    * speed/recall trade rests on. The IVF clustering runs ONCE for the
    * whole sweep; every retrieval and the exact hit counts replay in the
    * oracle, so the recall numbers themselves are hash-exact.
    */
  private def q474(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    graft.operators.Similarity.recallSweep(emb,
      emb.filter(col("vec_id") < 10), "vec_id", "embedding", 64,
      k = 10, nCentroids = 16, probes = Seq(1, 2, 4))
  }

  // exact + LSH + per-probe IVF retrievals all replayed; recall is
  // exact hit counts over the shared ground truth
  query("q474_recall_sweep", q474)(Sql(recallSweepOracleSql))

  /** Tokenizer fertility ([[graft.operators.TextPipeline
    * .tokenizerFertility]]): per-language BPE-tokens-per-word and
    * chars-per-token with the exact p90 of per-document fertility —
    * the tokenizer-choice audit; integer micro-ratios in the census,
    * order-statistic p90, pinned corpus ratios.
    */
  private def q492(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.tokenizerFertility(
      T(s, dir, "documents"), "lang", "text")
      .orderBy(col("lang"))

  // integer micro-ratio census, ceiling-rank order-stat p90, pinned
  // corpus ratios — the q31 tokenizers aggregated per language
  query("q492_tokenizer_fertility", q492)(Sql(
    """WITH pd AS (SELECT lang, CAST(array_length(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS BIGINT) AS w, CAST(array_length(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS b, CAST(length(text) AS BIGINT) AS nchars FROM documents), pd2 AS (SELECT lang, w, b, nchars, (b * 1000000) // w AS fert_ppm FROM pd WHERE w > 0), tot AS (SELECT lang, COUNT(*) AS n_docs, CAST(SUM(w) AS BIGINT) AS words, CAST(SUM(b) AS BIGINT) AS bpe_tokens, CAST(SUM(nchars) AS BIGINT) AS chars FROM pd2 GROUP BY 1), cen AS (SELECT lang, fert_ppm, COUNT(*) AS t FROM pd2 GROUP BY 1, 2), cc AS (SELECT lang, fert_ppm, SUM(t) OVER (PARTITION BY lang ORDER BY fert_ppm ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c, SUM(t) OVER (PARTITION BY lang) AS n FROM cen), p90 AS (SELECT lang, MIN(fert_ppm) AS p90_fert_ppm FROM cc WHERE c >= (9 * n + 9) // 10 GROUP BY 1) SELECT tot.lang, tot.n_docs, tot.words, tot.bpe_tokens, round(CAST(bpe_tokens AS DOUBLE) / CAST(words AS DOUBLE), 6) AS fertility, round(CAST(chars AS DOUBLE) / CAST(bpe_tokens AS DOUBLE), 6) AS chars_per_token, p90.p90_fert_ppm FROM tot JOIN p90 USING (lang) ORDER BY lang"""))

  /** Blocking-recall meter: the "measured, not assumed" loop (q215 ANN,
    * q340 minhash, q474 recall sweep) closed for the LINKAGE shelf —
    * truth = Jaro-Winkler ≥ 0.95 over a capped broadcast record sample
    * (300 clean + 300 transposed-suffix copies), candidates from TWO
    * blocking schemes: an 8-char prefix block (misses the dirty pairs
    * whose transposition crosses the prefix boundary) and q243's
    * sorted-neighborhood window (w=4). Per scheme: candidate volume,
    * precision, recall — the table that decides a blocking config
    * before anyone trusts it at 100 TB.
    */
  private def q494(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.StringSimilarityExpressions.jaroWinkler
    val cust = T(s, dir, "customer").filter(col("c_custkey") < 300)
    val clean = cust.select(col("c_custkey").cast("long").as("rid"),
      col("c_name").as("name"))
    val dirty = cust.select((col("c_custkey") + 1000000L).as("rid"),
      concat(expr("substring(c_name, 1, length(c_name) - 2)"),
        expr("substring(c_name, length(c_name), 1)"),
        expr("substring(c_name, length(c_name) - 1, 1)")).as("name"))
    val recs = clean.unionByName(dirty).localCheckpoint(true)
    val truth = recs.select(col("rid").as("id_a"), col("name").as("na"))
      .join(broadcast(recs.select(col("rid").as("id_b"), col("name").as("nb"))),
        col("id_a") < col("id_b"))
      .filter(jaroWinkler(col("na"), col("nb")) >= 0.95)
      .select(col("id_a"), col("id_b"), lit(1L).as("t"))
      .localCheckpoint(true)
    def meter(method: String, cand: DataFrame): DataFrame =
      truth.join(cand.withColumn("c", lit(1L)), Seq("id_a", "id_b"), "full")
        .agg(sum(col("t")).as("n_truth"), sum(col("c")).as("n_cand"),
          sum(col("t") * col("c")).as("n_hit"))
        .select(lit(method).as("method"), col("n_truth"), col("n_cand"),
          col("n_hit"),
          round(col("n_hit").cast("double") / col("n_cand").cast("double"), 6)
            .as("precision"),
          round(col("n_hit").cast("double") / col("n_truth").cast("double"), 6)
            .as("recall"))
    val pb = recs.select(col("rid"), substring(col("name"), 10, 8).as("blk"))
    val prefixCand = pb.select(col("rid").as("id_a"), col("blk"))
      .join(pb.select(col("rid").as("id_b"), col("blk")), Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val ranked = graft.operators.GlobalOrder.rowNumbers(
      recs, Seq(col("name"), col("rid")), idCol = "rnk")
    val blocked = ranked.select(col("rid"), col("rnk"),
      explode(array(floor((col("rnk") - 1) / 4),
        floor((col("rnk") - 1) / 4) + 1)).as("blk"))
    val snCand = blocked.as("a").join(blocked.as("b"),
        col("a.blk") === col("b.blk") && col("b.rnk") > col("a.rnk") &&
          col("b.rnk") - col("a.rnk") <= 4)
      .select(least(col("a.rid"), col("b.rid")).as("id_a"),
        greatest(col("a.rid"), col("b.rid")).as("id_b"))
      .distinct()
    meter("prefix8", prefixCand)
      .unionByName(meter("sn4", snCand))
      .orderBy(col("method"))
  }

  // truth = JW >= 0.95 over the broadcast sample; prefix-8 equi-block
  // and the w=4 sorted-neighborhood window replay identically
  query("q494_blocking_recall", q494)(Sql(
    """WITH cl AS (SELECT CAST(c_custkey AS BIGINT) AS rid, c_name AS name FROM customer WHERE c_custkey < 300), dr AS (SELECT CAST(c_custkey + 1000000 AS BIGINT) AS rid, concat(substring(c_name, 1, length(c_name) - 2), substring(c_name, length(c_name), 1), substring(c_name, length(c_name) - 1, 1)) AS name FROM customer WHERE c_custkey < 300), recs AS (SELECT * FROM cl UNION ALL SELECT * FROM dr), tr AS (SELECT a.rid AS id_a, b.rid AS id_b, 1 AS t FROM recs a JOIN recs b ON a.rid < b.rid AND jaro_winkler_similarity(a.name, b.name) >= 0.95), pb AS (SELECT rid, substring(name, 10, 8) AS blk FROM recs), pc AS (SELECT DISTINCT a.rid AS id_a, b.rid AS id_b, 1 AS c FROM pb a JOIN pb b ON a.blk = b.blk AND a.rid < b.rid), rk AS (SELECT rid, ROW_NUMBER() OVER (ORDER BY name, rid) AS rnk FROM recs), bl AS (SELECT rid, rnk, (rnk - 1) // 4 AS blk FROM rk UNION ALL SELECT rid, rnk, (rnk - 1) // 4 + 1 FROM rk), sc AS (SELECT DISTINCT LEAST(a.rid, b.rid) AS id_a, GREATEST(a.rid, b.rid) AS id_b, 1 AS c FROM bl a JOIN bl b ON a.blk = b.blk AND b.rnk > a.rnk AND b.rnk - a.rnk <= 4), m1 AS (SELECT 'prefix8' AS method, CAST(SUM(t) AS BIGINT) AS n_truth, CAST(SUM(c) AS BIGINT) AS n_cand, CAST(SUM(t * c) AS BIGINT) AS n_hit FROM tr FULL JOIN pc USING (id_a, id_b)), m2 AS (SELECT 'sn4' AS method, CAST(SUM(t) AS BIGINT) AS n_truth, CAST(SUM(c) AS BIGINT) AS n_cand, CAST(SUM(t * c) AS BIGINT) AS n_hit FROM tr FULL JOIN sc USING (id_a, id_b)), mm AS (SELECT * FROM m1 UNION ALL SELECT * FROM m2) SELECT method, n_truth, n_cand, n_hit, round(CAST(n_hit AS DOUBLE) / CAST(n_cand AS DOUBLE), 6) AS precision, round(CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE), 6) AS recall FROM mm ORDER BY method"""))

  /** LangID confusion matrix ([[graft.operators.TextPipeline
    * .langidConfusion]]): q30's n-gram language gate measured against
    * the labeled `lang` column — confusion cells, per-label share, and
    * the global accuracy; the audit that catches a gate silently
    * starving a language slice.
    */
  private def q498(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.langidConfusion(
      T(s, dir, "documents"), "lang", "text")
      .orderBy(col("label"), col("pred"))

  // the q30 langid CASE verbatim, then label-domain windows only
  query("q498_langid_confusion", q498)(Sql(
    """WITH m AS (SELECT lang AS label, ' ' || lower(text) || ' ' AS p FROM documents), sc AS (SELECT label, (length(p) - length(replace(p, ' the ', ' '))) / 4 + (length(p) - length(replace(p, ' a ', ' '))) / 2 AS s_en, (length(p) - length(replace(p, ' der ', ' '))) / 4 + (length(p) - length(replace(p, ' und ', ' '))) / 4 AS s_de, (length(p) - length(replace(p, ' el ', ' '))) / 3 + (length(p) - length(replace(p, ' los ', ' '))) / 4 AS s_es, (length(p) - length(replace(p, ' le ', ' '))) / 3 + (length(p) - length(replace(p, ' et ', ' '))) / 3 AS s_fr FROM m), pr AS (SELECT label, CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en' WHEN s_de > s_en AND s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de' WHEN s_es > s_en AND s_es > s_de AND s_es >= s_fr AND s_es > 0 THEN 'es' WHEN s_fr > s_en AND s_fr > s_de AND s_fr > s_es AND s_fr > 0 THEN 'fr' ELSE 'unknown' END AS pred FROM sc), cells AS (SELECT label, pred, COUNT(*) AS n FROM pr GROUP BY 1, 2), w AS (SELECT label, pred, n, SUM(n) OVER (PARTITION BY label) AS label_n, SUM(CASE WHEN label = pred THEN n ELSE 0 END) OVER () AS hits, SUM(n) OVER () AS tot FROM cells) SELECT label, pred, n, CAST(label_n AS BIGINT) AS label_n, round(CAST(n AS DOUBLE) / CAST(label_n AS DOUBLE), 6) AS share_of_label, round(CAST(hits AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS accuracy FROM w ORDER BY label, pred"""))

  /** Vocabulary coverage curve ([[graft.operators.TextPipeline
    * .vocabCoverage]]): token share covered by the top-K vocabulary at
    * K ∈ {256, 1024, 4096} — the table a tokenizer's vocab budget is
    * chosen from; distributed top-K cut, parameter-sized ranking only.
    */
  private def q510(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.vocabCoverage(
      T(s, dir, "documents"), "text", Seq(256, 1024, 4096))
      .orderBy(col("k"))

  // census + distributed top-K cut; per-K coverage over the exact
  // cumulative token counts
  query("q510_vocab_coverage", q510)(Sql(vocabCoverageOracleSql))

  /** Dedup threshold sweep: the est-Jaccard PRECISION curve over the
    * production q84 banding — at each candidate threshold, how many
    * candidate pairs survive and what fraction are TRUE near-dups
    * (exact 3-shingle Jaccard ≥ 0.35 on the capped sample, the q340
    * truth) — the curve a dedup run picks its cut from, where q340
    * meters one config's recall.
    */
  private def q515(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val docs = T(s, dir, "documents").filter(col("doc_id") < 300)
    val cand = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
      threshold = 0.0)
    val sets = Dedup.shingleHashRows(docs, "doc_id", "text", 3)
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_set(col("sh"))).as("g"))
    val scored = cand
      .join(sets.select(col("doc_id").as("id_a"), col("g").as("ga")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("g").as("gb")), "id_b")
      .withColumn("true_j",
        size(array_intersect(col("ga"), col("gb"))).cast("double") /
          size(array_union(col("ga"), col("gb"))).cast("double"))
      .localCheckpoint(true) // one reader per threshold
    // coalesce: an empty candidate set must read 0, not NULL — at larger
    // SFs the <300-id sample can be dup-free and the sweep still reports
    val rows = Seq(0.3, 0.4, 0.5, 0.6, 0.7).map { t =>
      scored.agg(lit(t).as("threshold"),
        coalesce(sum(when(col("est_jaccard") >= t, 1L).otherwise(0L)),
          lit(0L)).as("n_candidates"),
        coalesce(sum(when(col("est_jaccard") >= t && col("true_j") >= 0.35,
          1L).otherwise(0L)), lit(0L)).as("n_true"))
    }.reduce(_ unionByName _)
    rows.withColumn("precision",
      when(col("n_candidates") > 0L,
        round(col("n_true").cast("double") /
          col("n_candidates").cast("double"), 6)))
      .orderBy(col("threshold"))
  }

  // the q84 banding with threshold 0, exact shingle Jaccard on the
  // candidates, and the per-threshold precision sweep
  query("q515_dedup_threshold_sweep", q515)(Sql(
    s"""$HASH_MACROS; WITH hs AS ($DOC_HASHES), shingled AS (SELECT doc_id, list_transform(range(CASE WHEN n >= 3 THEN n - 2 ELSE 1 END), p -> shmix(shmix(h[p+1], coalesce(h[p+2], ${padLit(1)})), coalesce(h[p+3], ${padLit(2)}))) AS sh FROM hs WHERE doc_id < 300), sets AS (SELECT doc_id AS id, list_sort(list_distinct(list_transform(sh, s -> tosigned(s)))) AS g FROM shingled), sigs AS (SELECT doc_id AS id, $sigSql AS sig FROM shingled), bands AS (SELECT id, sig, unnest(list_zip([${(0 until 8).map(bandSql).mkString(", ")}], [0,1,2,3,4,5,6,7])) AS z FROM sigs), wb AS (SELECT id, sig, z[2] AS band_idx, z[1] AS band_hash, ROW_NUMBER() OVER (PARTITION BY z[2], z[1] ORDER BY id) AS rn FROM bands), cp AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, CAST(len(list_filter(range(32), i -> a.sig[i+1] = b.sig[i+1])) AS DOUBLE) / 32.0 AS est FROM wb a JOIN wb b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.id < b.id WHERE a.rn <= 64 AND b.rn <= 64), sc AS (SELECT cp.id_a, cp.id_b, cp.est, CAST(len(list_intersect(sa.g, sb.g)) AS DOUBLE) / CAST(len(list_distinct(list_concat(sa.g, sb.g))) AS DOUBLE) AS tj FROM cp JOIN sets sa ON cp.id_a = sa.id JOIN sets sb ON cp.id_b = sb.id), u AS (SELECT unnest([0.3, 0.4, 0.5, 0.6, 0.7]) AS th) SELECT th AS threshold, CAST(COALESCE(SUM(CASE WHEN est >= th THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_candidates, CAST(COALESCE(SUM(CASE WHEN est >= th AND tj >= 0.35 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_true, CASE WHEN COALESCE(SUM(CASE WHEN est >= th THEN 1 ELSE 0 END), 0) > 0 THEN round(CAST(SUM(CASE WHEN est >= th AND tj >= 0.35 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(SUM(CASE WHEN est >= th THEN 1 ELSE 0 END) AS DOUBLE), 6) END AS precision FROM u LEFT JOIN sc ON TRUE GROUP BY th ORDER BY threshold"""))

  /** Chao1 richness + Good's coverage
    * ([[graft.operators.Profiling.chao1]]) per source over the word
    * domain — how much vocabulary each source still hides, the
    * is-another-crawl-worth-it readout beside q535's Heaps' fit.
    */
  private def q567(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.chao1(
      T(s, dir, "documents")
        .select(col("source"), explode(TF.words(col("text"))).as("w"))
        .filter(col("w") =!= ""),
      "source", "w").orderBy(col("source"))

  // abundance census → frequency-of-frequencies, all-integer until the
  // two final ratios
  query("q567_chao1", q567)(Sql(
    s"""$HASH_MACROS; WITH w AS (SELECT source AS g, unnest(docwords(text)) AS w FROM documents), c AS (SELECT g, w, COUNT(*) AS c FROM w WHERE w <> '' GROUP BY 1, 2), a AS (SELECT g, COUNT(*) AS s_obs, CAST(SUM(c) AS BIGINT) AS n, CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1, CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2 FROM c GROUP BY 1) SELECT g AS source, n AS n_tokens, CAST(s_obs AS BIGINT) AS s_obs, f1, f2, round(CAST(s_obs AS DOUBLE) + CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1.0) / (2.0 * (CAST(f2 AS DOUBLE) + 1.0)), 6) AS chao1, CASE WHEN n > 0 THEN round(1.0 - CAST(f1 AS DOUBLE) / CAST(n AS DOUBLE), 6) END AS coverage FROM a ORDER BY source"""))

  /** Flesch readability ([[graft.operators.TextPipeline.readability]]):
    * per-doc reading-ease and grade level from three regexp censuses —
    * the interpretable quality meter beside q176's entropy gates.
    */
  private def q577(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.readability(
      T(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  // three regexp censuses per doc, the vowel-group syllable proxy
  query("q577_readability", q577)(Sql(
    s"""$HASH_MACROS; SELECT doc_id, CAST(len(docwords(text)) AS BIGINT) AS n_words, CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS BIGINT) AS n_sentences, CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables, CASE WHEN len(docwords(text)) > 0 THEN round(206.835 - 1.015 * (CAST(len(docwords(text)) AS DOUBLE) / CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS DOUBLE)) - 84.6 * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE) / CAST(len(docwords(text)) AS DOUBLE)), 6) END AS flesch, CASE WHEN len(docwords(text)) > 0 THEN round(0.39 * (CAST(len(docwords(text)) AS DOUBLE) / CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS DOUBLE)) + 11.8 * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE) / CAST(len(docwords(text)) AS DOUBLE)) - 15.59, 6) END AS fk_grade FROM documents ORDER BY doc_id"""))

  /** Blob near-dup pairs ([[graft.operators.Multimodal.blobChunkPairs]]):
    * content-defined BYTE chunks over the binary payload — re-encoded
    * or appended-to blobs share most chunks though whole-payload
    * hashes see different objects; bucketed by chunk hash, never
    * all-pairs.
    */
  private def q586(s: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.blobChunkPairs(T(s, dir, "documents"))

  // q179's rolling-hash cut replay over the hexified payload, with
  // the document-frequency stop-chunk cap
  query("q586_blob_chunk_pairs", q586)(Sql(
    s"""$HASH_MACROS; WITH d0 AS (SELECT doc_id, hex(encode(text)) AS t FROM documents), d AS (SELECT doc_id, t, length(t) AS n FROM d0 WHERE length(t) >= 1), cuts AS (SELECT doc_id, t, list_sort(list_distinct(list_append(CASE WHEN n >= 16 THEN list_filter(list_transform(range(16, n + 1), cp -> CASE WHEN (xshash(substr(t, cp - 15, 16)) & 63) = 0 THEN CAST(cp AS BIGINT) END), x -> x IS NOT NULL) ELSE CAST([] AS BIGINT[]) END, CAST(n AS BIGINT)))) AS b FROM d), ch AS (SELECT doc_id, t, unnest(list_transform(range(1, len(b) + 1), k -> {'st': CASE WHEN k = 1 THEN CAST(1 AS BIGINT) ELSE b[k - 1] + 1 END, 'en': b[k]})) AS c FROM cuts), hs AS (SELECT DISTINCT doc_id, md5(substr(t, CAST(c.st AS INTEGER), CAST(c.en - c.st + 1 AS INTEGER))) AS h FROM ch), dfq AS (SELECT h, COUNT(*) AS nd FROM hs GROUP BY 1), kept AS (SELECT hs.doc_id, hs.h FROM hs JOIN dfq USING (h) WHERE nd <= 50), sz AS (SELECT doc_id, COUNT(*) AS nc FROM kept GROUP BY 1), pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS shared_chunks FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2), j AS (SELECT pr.id_a, pr.id_b, pr.shared_chunks, CAST(sa.nc AS BIGINT) AS n_a, CAST(sb.nc AS BIGINT) AS n_b FROM pr JOIN sz sa ON sa.doc_id = pr.id_a JOIN sz sb ON sb.doc_id = pr.id_b) SELECT id_a, id_b, shared_chunks, n_a, n_b, round(CAST(shared_chunks AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE), 6) AS containment FROM j WHERE shared_chunks >= 2 AND CAST(shared_chunks AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE) >= 0.5 ORDER BY id_a, id_b"""))

  /** Function-word stylometry
    * ([[graft.operators.TextPipeline.stylometryCosine]]): pairwise
    * cosine between sources' function-word habit vectors — topic-free
    * style similarity, the provenance flag beside q565's lang-mix
    * distances.
    */
  private def q587(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.stylometryCosine(
      T(s, dir, "documents"), "source", "text")

  // replace-shrinkage marker censuses, integer dot/norms, one cosine
  query("q587_stylometry", q587)(Sql(
    """WITH p AS (SELECT source AS g, ' ' || lower(text) || ' ' AS t FROM documents), m AS (SELECT g, CAST(SUM((length(t) - length(replace(t, ' the ', ' '))) // 4) AS BIGINT) AS m0, CAST(SUM((length(t) - length(replace(t, ' a ', ' '))) // 2) AS BIGINT) AS m1, CAST(SUM((length(t) - length(replace(t, ' and ', ' '))) // 4) AS BIGINT) AS m2, CAST(SUM((length(t) - length(replace(t, ' of ', ' '))) // 3) AS BIGINT) AS m3, CAST(SUM((length(t) - length(replace(t, ' to ', ' '))) // 3) AS BIGINT) AS m4, CAST(SUM((length(t) - length(replace(t, ' in ', ' '))) // 3) AS BIGINT) AS m5, CAST(SUM((length(t) - length(replace(t, ' is ', ' '))) // 3) AS BIGINT) AS m6, CAST(SUM((length(t) - length(replace(t, ' it ', ' '))) // 3) AS BIGINT) AS m7, CAST(SUM((length(t) - length(replace(t, ' that ', ' '))) // 5) AS BIGINT) AS m8, CAST(SUM((length(t) - length(replace(t, ' for ', ' '))) // 4) AS BIGINT) AS m9 FROM p GROUP BY 1), mm AS (SELECT g, 0 AS marker, m0 AS cnt FROM m UNION ALL SELECT g, 1, m1 FROM m UNION ALL SELECT g, 2, m2 FROM m UNION ALL SELECT g, 3, m3 FROM m UNION ALL SELECT g, 4, m4 FROM m UNION ALL SELECT g, 5, m5 FROM m UNION ALL SELECT g, 6, m6 FROM m UNION ALL SELECT g, 7, m7 FROM m UNION ALL SELECT g, 8, m8 FROM m UNION ALL SELECT g, 9, m9 FROM m), nr AS (SELECT g, SUM(CAST(cnt AS HUGEINT) * CAST(cnt AS HUGEINT)) AS nrm2, CAST(SUM(cnt) AS BIGINT) AS total FROM mm GROUP BY 1), dt AS (SELECT a.g AS g_a, b.g AS g_b, SUM(CAST(a.cnt AS HUGEINT) * CAST(b.cnt AS HUGEINT)) AS dot FROM mm a JOIN mm b ON a.marker = b.marker AND a.g < b.g GROUP BY 1, 2) SELECT g_a, g_b, na.total AS tot_a, nb.total AS tot_b, CASE WHEN CAST(na.nrm2 AS DOUBLE) > 0.0 AND CAST(nb.nrm2 AS DOUBLE) > 0.0 THEN round(CAST(dot AS DOUBLE) / (sqrt(CAST(na.nrm2 AS DOUBLE)) * sqrt(CAST(nb.nrm2 AS DOUBLE))), 6) END AS style_cosine FROM dt JOIN nr na ON na.g = dt.g_a JOIN nr nb ON nb.g = dt.g_b ORDER BY g_a, g_b"""))

  /** LSH design table ([[graft.operators.Dedup.lshDesignTable]]):
    * expected candidates / recall@0.7 / false-candidate share for each
    * power-of-two (bands, rows) split, integrated against the observed
    * pair-similarity histogram. CONDITIONING CAVEAT (r11 ADVICE): the
    * histogram comes from minhashNearDupPairs under the hard-coded
    * (8, 4) banding, so it only sees pairs that collide under that
    * split — expected_candidates / fp_share for MORE permissive rows
    * like (32, 1) are therefore biased low (pairs invisible to (8, 4)
    * are absent from the integrand). Read the table as "how the
    * (8, 4)-reachable pair population redistributes across designs",
    * not as an unconditioned capacity plan.
    */
  private def q639(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.lshDesignTable(
      graft.operators.Dedup.minhashNearDupPairs(
        T(s, dir, "documents"), "doc_id", "text", threshold = 0.0),
      "est_jaccard")

  // the q84 candidate chain WITHOUT its threshold, then pure
  // repeated-squaring s-curves integrated against the sim histogram
  query("q639_lsh_design", q639)(Sql(
    s"""$HASH_MACROS; WITH hs AS ($DOC_HASHES), shingled AS (SELECT doc_id, list_transform(range(CASE WHEN n >= 3 THEN n - 2 ELSE 1 END), p -> shmix(shmix(h[p+1], coalesce(h[p+2], ${padLit(1)})), coalesce(h[p+3], ${padLit(2)}))) AS sh FROM hs), sigs AS (SELECT doc_id AS id, $sigSql AS sig FROM shingled), bands AS (SELECT id, sig, unnest(list_zip([${(0 until 8).map(bandSql).mkString(", ")}], [0,1,2,3,4,5,6,7])) AS z FROM sigs), wb AS (SELECT id, sig, z[2] AS band_idx, z[1] AS band_hash, ROW_NUMBER() OVER (PARTITION BY z[2], z[1] ORDER BY id) AS rn FROM bands), p AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, CAST(len(list_filter(range(32), i -> a.sig[i+1] = b.sig[i+1])) AS DOUBLE) / 32.0 AS est_jaccard FROM wb a JOIN wb b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.id < b.id WHERE a.rn <= 64 AND b.rn <= 64), hist AS (SELECT LEAST(CAST(floor(est_jaccard * 20) AS BIGINT), 19) AS j, CAST(COUNT(*) AS BIGINT) AS nj FROM p WHERE est_jaccard >= 0.0 GROUP BY 1), h2 AS (SELECT j, nj, CAST(2 * j + 1 AS DOUBLE) / 40.0 AS s FROM hist), cf AS (SELECT * FROM (VALUES (32, 1), (16, 2), (8, 4), (4, 8), (2, 16), (1, 32)) v(b, r)), g1 AS (SELECT b, r, nj, s, s * s AS s2 FROM cf CROSS JOIN h2), g2 AS (SELECT *, s2 * s2 AS s4 FROM g1), g3 AS (SELECT *, s4 * s4 AS s8 FROM g2), g4 AS (SELECT *, s8 * s8 AS s16 FROM g3), g5 AS (SELECT *, s16 * s16 AS s32 FROM g4), g6 AS (SELECT *, CASE WHEN r = 1 THEN s WHEN r = 2 THEN s2 WHEN r = 4 THEN s4 WHEN r = 8 THEN s8 WHEN r = 16 THEN s16 ELSE s32 END AS sr FROM g5), g7 AS (SELECT *, 1.0 - sr AS c1 FROM g6), g8 AS (SELECT *, c1 * c1 AS c2 FROM g7), g9 AS (SELECT *, c2 * c2 AS c4 FROM g8), g10 AS (SELECT *, c4 * c4 AS c8 FROM g9), g11 AS (SELECT *, c8 * c8 AS c16 FROM g10), g12 AS (SELECT *, c16 * c16 AS c32 FROM g11), g13 AS (SELECT b, r, nj, s, 1.0 - (CASE WHEN b = 1 THEN c1 WHEN b = 2 THEN c2 WHEN b = 4 THEN c4 WHEN b = 8 THEN c8 WHEN b = 16 THEN c16 ELSE c32 END) AS pp FROM g12), ag AS (SELECT b, r, CAST(SUM(nj) AS BIGINT) AS n_pairs, SUM(CAST(round(pp * CAST(nj AS DOUBLE), 9) AS DECIMAL(28,9))) AS exp_all, CAST(SUM(CASE WHEN s >= 0.7 THEN nj ELSE 0 END) AS BIGINT) AS n_hi, SUM(CASE WHEN s >= 0.7 THEN CAST(round(pp * CAST(nj AS DOUBLE), 9) AS DECIMAL(28,9)) ELSE CAST(0 AS DECIMAL(28,9)) END) AS exp_hi FROM g13 GROUP BY 1, 2) SELECT CAST(b AS BIGINT) AS bands, CAST(r AS BIGINT) AS rows_per_band, n_pairs, round(CAST(exp_all AS DOUBLE), 3) AS expected_candidates, n_hi AS n_above_07, CASE WHEN n_hi > 0 THEN round(CAST(exp_hi AS DOUBLE) / CAST(n_hi AS DOUBLE), 6) END AS recall_07, CASE WHEN CAST(exp_all AS DOUBLE) > 0.0 THEN round((CAST(exp_all AS DOUBLE) - CAST(exp_hi AS DOUBLE)) / CAST(exp_all AS DOUBLE), 6) END AS fp_share FROM ag ORDER BY bands DESC"""))

  /** Word burstiness ([[graft.operators.TextPipeline.wordBurstiness]]):
    * Church–Gale adaptation — which words CLUMP in documents (topic
    * anchors) vs spread evenly (glue), the prior tf-idf assumes.
    */
  private def q649(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.wordBurstiness(
      T(s, dir, "documents"), "doc_id", "text")

  // word-in-doc census, two pinned divisions, deterministic top-k
  query("q649_word_burstiness", q649)(Sql(
    s"""$HASH_MACROS; WITH t0 AS (SELECT doc_id, unnest(docwords(text)) AS w FROM documents), t2 AS (SELECT doc_id, w FROM t0 WHERE w <> ''), pd AS (SELECT doc_id, w, COUNT(*) AS c FROM t2 GROUP BY 1, 2), cen AS (SELECT w, CAST(SUM(c) AS BIGINT) AS cf, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS df2 FROM pd GROUP BY 1 HAVING COUNT(*) >= 5) SELECT w AS word, cf, df, df2, round(CAST(cf AS DOUBLE) / CAST(df AS DOUBLE), 6) AS burst, round(CAST(df2 AS DOUBLE) / CAST(df AS DOUBLE), 6) AS adaptation FROM cen ORDER BY burst DESC, word LIMIT 200"""))

  /** Gazetteer tagging ([[graft.operators.TextPipeline.gazetteerTag]]):
    * the part-name vocabulary as a broadcast dictionary over the
    * document corpus — matched mass, coverage, and the dominant
    * catalog term per doc, beside q30's language-ID routing.
    */
  private def q675(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.gazetteerTag(
      T(s, dir, "documents"), "doc_id", "text",
      T(s, dir, "part").select(explode(split(lower(trim(col("p_name"))),
        " ")).as("term")),
      "term")

  // broadcast dictionary join on the shared whitespace fold,
  // row_number tie-break for the dominant term
  query("q675_gazetteer_tag", q675)(Sql(
    """WITH g AS (SELECT DISTINCT unnest(string_split(lower(trim(p_name)), ' ')) AS term FROM part), tk AS (SELECT doc_id, unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w FROM documents), tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM tk GROUP BY 1), mc AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c FROM tk JOIN g ON tk.w = g.term GROUP BY 1, 2), rn AS (SELECT doc_id, w, c, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, w) AS rn FROM mc), st AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_matched, COUNT(*) AS n_terms, MAX(CASE WHEN rn = 1 THEN w END) AS top_term, MAX(CASE WHEN rn = 1 THEN c END) AS top_count FROM rn GROUP BY 1) SELECT tot.doc_id, n_tokens, COALESCE(n_matched, 0) AS n_matched, COALESCE(n_terms, 0) AS n_terms, round(CAST(COALESCE(n_matched, 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS coverage, top_term, COALESCE(top_count, 0) AS top_count FROM tot LEFT JOIN st ON tot.doc_id = st.doc_id ORDER BY tot.doc_id"""))

  /** JL random-projection audit
    * ([[graft.operators.Similarity.randomProjectionAudit]]): original
    * vs 16-dim sign-projected squared distances on a hash-bucketed
    * pair sample — "can we serve 16 dims", measured, beside q467's
    * prefix-truncation fidelity.
    */
  private def q683(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.randomProjectionAudit(
      T(s, dir, "embeddings"), "vec_id", "embedding", dims = 64)

  // bucketed pair sample, +/-1/sqrt(k) sign projection on the 1e-6
  // grid, ordered list_reduce distance folds
  query("q683_random_projection", q683)(Sql(
    s"""$VEC_MACROS; CREATE OR REPLACE MACRO pl2(a, b) AS list_reduce(list_transform(range(1, 65), i -> (CAST(a[i] AS DOUBLE) - CAST(b[i] AS DOUBLE)) * (CAST(a[i] AS DOUBLE) - CAST(b[i] AS DOUBLE))), (x, y) -> x + y); CREATE OR REPLACE MACRO pl2k(a, b) AS list_reduce(list_transform(range(1, 17), i -> (CAST(a[i] AS DOUBLE) - CAST(b[i] AS DOUBLE)) * (CAST(a[i] AS DOUBLE) - CAST(b[i] AS DOUBLE))), (x, y) -> x + y); WITH base AS (SELECT vec_id AS id, embedding AS v, [round(pdot(v, ${planeArr(1000)}) / 4.0, 6), round(pdot(v, ${planeArr(1001)}) / 4.0, 6), round(pdot(v, ${planeArr(1002)}) / 4.0, 6), round(pdot(v, ${planeArr(1003)}) / 4.0, 6), round(pdot(v, ${planeArr(1004)}) / 4.0, 6), round(pdot(v, ${planeArr(1005)}) / 4.0, 6), round(pdot(v, ${planeArr(1006)}) / 4.0, 6), round(pdot(v, ${planeArr(1007)}) / 4.0, 6), round(pdot(v, ${planeArr(1008)}) / 4.0, 6), round(pdot(v, ${planeArr(1009)}) / 4.0, 6), round(pdot(v, ${planeArr(1010)}) / 4.0, 6), round(pdot(v, ${planeArr(1011)}) / 4.0, 6), round(pdot(v, ${planeArr(1012)}) / 4.0, 6), round(pdot(v, ${planeArr(1013)}) / 4.0, 6), round(pdot(v, ${planeArr(1014)}) / 4.0, 6), round(pdot(v, ${planeArr(1015)}) / 4.0, 6)] AS y, CAST(concat('0x', substr(md5(concat('jl:', CAST(vec_id AS VARCHAR))), 1, 13)) AS BIGINT) % 41 AS bkt FROM embeddings), p AS (SELECT a.id AS id_a, b.id AS id_b, pl2(a.v, b.v) AS d2o, pl2k(a.y, b.y) AS d2p FROM base a JOIN base b ON a.bkt = b.bkt AND a.id < b.id) SELECT id_a, id_b, round(d2o, 6) AS d2_orig, round(d2p, 6) AS d2_proj, CASE WHEN d2o > 0.0 THEN round(d2p / d2o, 6) END AS ratio FROM p ORDER BY id_a, id_b"""))

  /** Skip-gram pairs ([[graft.operators.TextPipeline.skipgramPairs]]):
    * word2vec-style (center, context) training pairs with
    * hash-deterministic negative samples — the training-example
    * factory beside q156's vocab build.
    */
  private def q632(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.skipgramPairs(
      T(s, dir, "documents"), "doc_id", "text")

  // doc-keyed position pair join, frequency-ranked vocabulary, the
  // counter-based md5 negative draws replayed hash for hash
  query("q632_skipgram_pairs", q632)(Sql(
    s"""$HASH_MACROS; WITH tk0 AS (SELECT doc_id, docwords(text) AS t FROM documents), tok AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, t[CAST(i AS INTEGER) + 1] AS w FROM tk0, LATERAL (SELECT unnest(range(0, len(t))) AS i) u WHERE t[CAST(i AS INTEGER) + 1] <> ''), vv AS (SELECT w, COUNT(*) AS cnt FROM tok GROUP BY 1), rkv AS (SELECT w AS vw, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, w) - 1 AS BIGINT) AS vid FROM vv), vn AS (SELECT CAST(COUNT(*) AS BIGINT) AS vn FROM rkv), pr AS (SELECT a.w AS center, b.w AS ctx, CAST(COUNT(*) AS BIGINT) AS n FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos <> a.pos AND abs(b.pos - a.pos) <= 2 GROUP BY 1, 2), tp AS (SELECT center, ctx, n FROM pr ORDER BY n DESC, center, ctx LIMIT 200), nid AS (SELECT center, ctx, n, CAST(concat('0x', substr(md5(concat('ng:', center, ':', ctx, ':', '1')), 1, 13)) AS BIGINT) % (SELECT vn FROM vn) AS n1, CAST(concat('0x', substr(md5(concat('ng:', center, ':', ctx, ':', '2')), 1, 13)) AS BIGINT) % (SELECT vn FROM vn) AS n2 FROM tp) SELECT nid.center, nid.ctx AS context, nid.n, r1.vw AS neg1, r2.vw AS neg2 FROM nid JOIN rkv r1 ON r1.vid = nid.n1 JOIN rkv r2 ON r2.vid = nid.n2 ORDER BY nid.n DESC, nid.center, context"""))

  /** Language-mixture profile
    * ([[graft.operators.TextPipeline.langMixture]]): per doc the marker
    * posterior over the language set, its entropy, and a mixed flag —
    * the code-switching rows q30's argmax silently misroutes.
    */
  private def q559(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.langMixture(
      T(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  // q30's replace-shrinkage markers, per-row fixed-order entropy terms
  query("q559_lang_mixture", q559)(Sql(
    """WITH p AS (SELECT doc_id, concat(' ', lower(text), ' ') AS t FROM documents), s AS (SELECT doc_id, CAST((length(t) - length(replace(t, ' the ', ' '))) / 4 + (length(t) - length(replace(t, ' a ', ' '))) / 2 AS BIGINT) AS se, CAST((length(t) - length(replace(t, ' der ', ' '))) / 4 + (length(t) - length(replace(t, ' und ', ' '))) / 4 AS BIGINT) AS sd, CAST((length(t) - length(replace(t, ' el ', ' '))) / 3 + (length(t) - length(replace(t, ' los ', ' '))) / 4 AS BIGINT) AS ss, CAST((length(t) - length(replace(t, ' le ', ' '))) / 3 + (length(t) - length(replace(t, ' et ', ' '))) / 3 AS BIGINT) AS sf FROM p), m AS (SELECT doc_id, se, sd, ss, sf, se + sd + ss + sf AS tot, (CASE WHEN se > 0 THEN 1 ELSE 0 END) + (CASE WHEN sd > 0 THEN 1 ELSE 0 END) + (CASE WHEN ss > 0 THEN 1 ELSE 0 END) + (CASE WHEN sf > 0 THEN 1 ELSE 0 END) AS nl FROM s), h AS (SELECT doc_id, tot, nl, se, sd, ss, sf, (CASE WHEN se > 0 THEN CAST(round(-(CAST(se AS DOUBLE) / CAST(tot AS DOUBLE) * ln(CAST(se AS DOUBLE) / CAST(tot AS DOUBLE))), 9) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) + (CASE WHEN sd > 0 THEN CAST(round(-(CAST(sd AS DOUBLE) / CAST(tot AS DOUBLE) * ln(CAST(sd AS DOUBLE) / CAST(tot AS DOUBLE))), 9) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) + (CASE WHEN ss > 0 THEN CAST(round(-(CAST(ss AS DOUBLE) / CAST(tot AS DOUBLE) * ln(CAST(ss AS DOUBLE) / CAST(tot AS DOUBLE))), 9) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) + (CASE WHEN sf > 0 THEN CAST(round(-(CAST(sf AS DOUBLE) / CAST(tot AS DOUBLE) * ln(CAST(sf AS DOUBLE) / CAST(tot AS DOUBLE))), 9) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS ent FROM m) SELECT doc_id, CAST(tot AS BIGINT) AS total_markers, CAST(nl AS BIGINT) AS n_langs, CASE WHEN tot > 0 THEN CAST(ent AS DOUBLE) END AS mix_entropy, (tot > 0 AND nl >= 2 AND CAST(greatest(se, sd, ss, sf) AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.75) AS mixed FROM h ORDER BY doc_id"""))

  /** Label-noise audit ([[graft.operators.Similarity.labelNoiseAudit]]):
    * per-label exact centroids, every vector re-assigned by cosine, the
    * label × assigned confusion — the screen run before the label column
    * trains anything.
    */
  private def q539(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.labelNoiseAudit(
      T(s, dir, "embeddings"), "vec_id", "embedding", "label")
      .orderBy(col("label"), col("assigned"))

  // grid centroids, 1e-12 product-grid cosines, min-label tie argmax
  query("q539_label_noise", q539)(Sql(
    """WITH vx AS (SELECT vec_id, CAST(label AS BIGINT) AS lt, unnest(range(64)) AS dim, unnest(list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE), 6) AS DECIMAL(18,6)))) AS xc FROM embeddings), cd AS (SELECT lt AS cl, dim, CAST(SUM(xc) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS m FROM vx GROUP BY 1, 2), nrm AS (SELECT cl, sqrt(CAST(SUM(CAST(round(m * m, 12) AS DECIMAL(30,12))) AS DOUBLE)) AS nc FROM cd GROUP BY 1), dots AS (SELECT v.vec_id, v.lt, c.cl, CAST(SUM(CAST(round(CAST(v.xc AS DOUBLE) * c.m, 12) AS DECIMAL(30,12))) AS DOUBLE) AS dot FROM vx v JOIN cd c ON v.dim = c.dim GROUP BY 1, 2, 3), sc AS (SELECT d.vec_id, d.lt, d.cl, round(d.dot / n.nc, 6) AS score FROM dots d JOIN nrm n ON d.cl = n.cl), win AS (SELECT vec_id, lt, cl, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cl) AS rn FROM sc), cf AS (SELECT lt AS label, cl AS assigned, CAST(COUNT(*) AS BIGINT) AS n FROM win WHERE rn = 1 GROUP BY 1, 2) SELECT label, assigned, n, round(CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY label) AS DOUBLE), 6) AS share FROM cf ORDER BY label, assigned"""))

  /** Heaps'-law fit ([[graft.operators.TextPipeline.heapsLaw]]):
    * vocabulary-growth exponent over the corpus in doc order — the
    * "are junk types still flooding in" monitor beside q510's coverage
    * curve; doc positions and both running totals on GlobalOrder.
    */
  private def q535(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.heapsLaw(
      T(s, dir, "documents"), "doc_id", "text")

  // doc-order positions, first-occurrence census, prefix sums, q277 OLS
  query("q535_heaps_law", q535)(Sql(
    s"""$HASH_MACROS; WITH d AS (SELECT doc_id, docwords(text) AS ws FROM documents), p AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS BIGINT) AS pos, CAST(len(ws) AS BIGINT) AS nw FROM d), t AS (SELECT pos, SUM(nw) OVER (ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS toks FROM p), wpos AS (SELECT p.pos AS pos, unnest(d.ws) AS w FROM d JOIN p ON d.doc_id = p.doc_id), fo AS (SELECT w, MIN(pos) AS fp FROM wpos GROUP BY w), np AS (SELECT fp, COUNT(*) AS nn FROM fo GROUP BY fp), v AS (SELECT t.pos, t.toks, SUM(COALESCE(np.nn, 0)) OVER (ORDER BY t.pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vocab FROM t LEFT JOIN np ON t.pos = np.fp), tm AS (SELECT toks, vocab, CAST(round(ln(CAST(toks AS DOUBLE)), 9) AS DECIMAL(18,9)) AS lx, CAST(round(ln(CAST(vocab AS DOUBLE)), 9) AS DECIMAL(18,9)) AS ly, CAST(round(ln(CAST(toks AS DOUBLE)) * ln(CAST(toks AS DOUBLE)), 9) AS DECIMAL(18,9)) AS lxx, CAST(round(ln(CAST(toks AS DOUBLE)) * ln(CAST(vocab AS DOUBLE)), 9) AS DECIMAL(18,9)) AS lxy FROM v WHERE toks > 0 AND vocab > 0), s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(MAX(toks) AS BIGINT) AS n_tokens, CAST(MAX(vocab) AS BIGINT) AS vocab, CAST(SUM(lx) AS DOUBLE) AS sx, CAST(SUM(ly) AS DOUBLE) AS sy, CAST(SUM(lxx) AS DOUBLE) AS sxx, CAST(SUM(lxy) AS DOUBLE) AS sxy FROM tm) SELECT n_docs, n_tokens, vocab, round((CAST(n_docs AS DOUBLE) * sxy - sx * sy) / (CAST(n_docs AS DOUBLE) * sxx - sx * sx), 6) AS beta, round((sy - (CAST(n_docs AS DOUBLE) * sxy - sx * sy) / (CAST(n_docs AS DOUBLE) * sxx - sx * sx) * sx) / CAST(n_docs AS DOUBLE), 6) AS ln_k FROM s"""))

  /** Substring-level repeated-span dedup
    * ([[graft.operators.Dedup.repeatedSpans]]): every maximal >= 8-token
    * span whose every 8-shingle occurs at least twice in the corpus — the
    * Lee-et-al-style repeated-passage cut between document dedup (q21)
    * and chunk dedup (q179), found by shingle-anchor census + island
    * merge, never a suffix array. The oracle replays the same xorshift
    * shingle fold and gaps-and-islands extension in SQL.
    */
  private def q527(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.repeatedSpans(
      T(s, dir, "documents"), "doc_id", "text", k = 8, minOcc = 2)
      .orderBy(col("doc_id"), col("start_tok"))

  // the engine's xorshift shingle fold + census + gaps-and-islands
  // extension, replayed verbatim: every maximal run of positions whose
  // 8-shingle occurs >= 2x corpus-wide
  query("q527_repeated_spans", q527)(Sql(
    s"""$HASH_MACROS; WITH hs AS ($DOC_HASHES), ps AS (SELECT doc_id, unnest(range(greatest(n - 7, 0))) AS pos, h FROM hs), sh AS (SELECT doc_id, pos, list_reduce(h[CAST(pos + 1 AS INTEGER):CAST(pos + 8 AS INTEGER)], (a, b) -> shmix(a, b)) AS s FROM ps), rep AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) >= 2), mk AS (SELECT doc_id, pos FROM sh WHERE s IN (SELECT s FROM rep)), il AS (SELECT doc_id, pos, pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM mk) SELECT doc_id, MIN(pos) AS start_tok, MAX(pos) + 7 AS end_tok, MAX(pos) + 8 - MIN(pos) AS span_tokens FROM il GROUP BY doc_id, grp ORDER BY doc_id, start_tok"""))

  /** PMI collocations ([[graft.operators.TextPipeline.pmiCollocations]]):
    * top-30 adjacent word pairs co-occurring far beyond their margins —
    * phrase DISCOVERY beside q434's RAKE scoring; ln over exact integer
    * cross-products, full-census margins, min-support 3.
    */
  private def q466(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.pmiCollocations(
        T(s, dir, "documents"), "doc_id", "text", minCount = 3, topN = 30)
      .orderBy(col("rank"))

  // full-census margins; ln over exact integer cross-products
  query("q466_pmi_collocations", q466)(Sql(
    """WITH wl AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws FROM documents), tk AS (SELECT doc_id, unnest(ws) AS w1, generate_subscripts(ws, 1) AS pos FROM wl), bg AS (SELECT w1, LEAD(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM tk), bg2 AS (SELECT w1, w2 FROM bg WHERE w2 IS NOT NULL AND w1 <> '' AND w2 <> ''), pc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy FROM bg2 GROUP BY 1, 2), lc AS (SELECT w1, CAST(SUM(c_xy) AS BIGINT) AS c_x FROM pc GROUP BY 1), rc AS (SELECT w2, CAST(SUM(c_xy) AS BIGINT) AS c_y FROM pc GROUP BY 1), na AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS n_all FROM pc), sc AS (SELECT pc.w1, pc.w2, pc.c_xy, round(ln(CAST(CAST(na.n_all AS DECIMAL(38,0)) * pc.c_xy AS DOUBLE) / CAST(CAST(lc.c_x AS DECIMAL(38,0)) * rc.c_y AS DOUBLE)), 6) AS pmi FROM pc JOIN lc USING (w1) JOIN rc USING (w2), na WHERE pc.c_xy >= 3), rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY pmi DESC, w1, w2) AS rnk FROM sc) SELECT CAST(rnk AS BIGINT) AS rank, w1, w2, c_xy, pmi FROM rk WHERE rnk <= 30 ORDER BY rank"""))

  /** Embedding-truncation fidelity
    * ([[graft.operators.Similarity.truncationFidelity]]): per query,
    * RBO@10 between the 64-dim cosine top-10 and the 16-dim truncated
    * top-10 — the matryoshka serve-cost decision table; two knnBrute
    * scans, max-rank census, pinned 0.9-power weights.
    */
  private def q467(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    graft.operators.Similarity.truncationFidelity(
        emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        dims = 16, k = 10)
      .orderBy(col("qid"))
  }

  // two cosine rankings (full + first-16 slice), per-query max-rank
  // census, the q461 pinned weights
  query("q467_truncation_fidelity", q467)(Sql(
    s"""$VEC_MACROS; CREATE OR REPLACE MACRO pdot16(v, w) AS list_reduce(list_transform(range(1, 17), i -> CAST(v[i] AS DOUBLE) * w[i]), (a, b) -> a + b); CREATE OR REPLACE MACRO pcos16(a, b) AS pdot16(a, b) / (sqrt(pdot16(a, a)) * sqrt(pdot16(b, b))); WITH qv AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 8), fsc AS (SELECT qv.qid, e.vec_id AS nid, round(pcos(qv.qe, e.embedding), 4) AS s FROM qv CROSS JOIN embeddings e WHERE e.vec_id <> qv.qid), fr AS (SELECT qid, nid, rnk AS ra FROM (SELECT qid, nid, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY s DESC NULLS LAST, nid) AS BIGINT) AS rnk FROM fsc) q WHERE rnk <= 10), tsc AS (SELECT qv.qid, e.vec_id AS nid, round(pcos16(qv.qe, e.embedding), 4) AS s FROM qv CROSS JOIN embeddings e WHERE e.vec_id <> qv.qid), tr AS (SELECT qid, nid, rnk AS rb FROM (SELECT qid, nid, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY s DESC NULLS LAST, nid) AS BIGINT) AS rnk FROM tsc) q WHERE rnk <= 10), j AS (SELECT COALESCE(fr.qid, tr.qid) AS qid, GREATEST(COALESCE(ra, 11), COALESCE(rb, 11)) AS m FROM fr FULL OUTER JOIN tr ON fr.qid = tr.qid AND fr.nid = tr.nid), jf AS (SELECT qid, m FROM j WHERE m <= 10), sp AS (SELECT qv.qid, CAST(u.u AS BIGINT) AS d FROM qv, (SELECT unnest(range(1, 11)) AS u) u), xd AS (SELECT sp.qid, sp.d, CAST(COUNT(jf.m) AS BIGINT) AS x FROM sp LEFT JOIN jf ON jf.qid = sp.qid AND jf.m <= sp.d GROUP BY 1, 2), tm AS (SELECT qid, d, x, CAST(round([0.1, 0.09, 0.081, 0.0729, 0.06561, 0.059049, 0.0531441, 0.04782969, 0.043046721, 0.0387420489][CAST(d AS INTEGER)] * CAST(x AS DOUBLE) / CAST(d AS DOUBLE), 9) AS DECIMAL(18,9)) AS term FROM xd) SELECT qid, MAX(CASE WHEN d = 10 THEN x END) AS overlap_at_k, round(CAST(SUM(term) AS DOUBLE), 6) AS rbo FROM tm GROUP BY qid ORDER BY qid"""))

  /** Duplication profile ([[graft.operators.Dedup.dupSizeProfile]]): the
    * cluster-size histogram of exact duplicates — how much of the corpus
    * is the same document repeated s times, the one-table summary read
    * before choosing a dedup policy; two map-side-combined aggregations,
    * shares as pinned divisions.
    */
  private def q451(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.dupSizeProfile(
        T(s, dir, "events").select(col("props"))
          .unionByName(T(s, dir, "documents").select(col("text").as("props"))),
        "props")
      .orderBy(col("cluster_size"))

  // fingerprint → size census → histogram; shares pinned
  query("q451_dup_profile", q451)(Sql(
    """WITH corp AS (SELECT props AS text FROM events UNION ALL SELECT text FROM documents), fp AS (SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp FROM corp), cl AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS s FROM fp GROUP BY fp), h AS (SELECT s AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters FROM cl GROUP BY s), h2 AS (SELECT *, cluster_size * n_clusters AS n_docs FROM h), t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM h2) SELECT cluster_size, n_clusters, n_docs, round(CAST(n_docs AS DOUBLE) / CAST(t.total AS DOUBLE), 6) AS corpus_share, (cluster_size - 1) * n_clusters AS rows_removable FROM h2, t ORDER BY cluster_size"""))

  /** Chapman capture–recapture
    * ([[graft.operators.Sketches.captureRecapture]]): estimate the TOTAL
    * user population — including users neither window saw — from the
    * first-half/second-half observation overlap; the coverage estimator
    * count-distinct structurally can't produce, with the closed-form
    * Chapman CI.
    */
  private def q449(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "events")
      .select(col("user_id"), expr("ts div 1000000000").as("sec"))
    val b = e.agg(min(col("sec")), max(col("sec"))).head()
    val mid = (b.getLong(0) + b.getLong(1)) / 2
    graft.operators.Sketches.captureRecapture(
      e.filter(col("sec") <= mid), e.filter(col("sec") > mid), "user_id")
  }

  // two distinct windows, full-outer overlap, Chapman closed form
  query("q449_capture_recapture", q449)(Sql(
    """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS sec FROM events), b AS (SELECT (MIN(sec) + MAX(sec)) // 2 AS mid FROM e), s1 AS (SELECT DISTINCT user_id FROM e, b WHERE sec <= b.mid), s2 AS (SELECT DISTINCT user_id FROM e, b WHERE sec > b.mid), j AS (SELECT s1.user_id IS NOT NULL AS in1, s2.user_id IS NOT NULL AS in2 FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id), a AS (SELECT CAST(SUM(CASE WHEN in1 THEN 1 ELSE 0 END) AS BIGINT) AS n1, CAST(SUM(CASE WHEN in2 THEN 1 ELSE 0 END) AS BIGINT) AS n2, CAST(SUM(CASE WHEN in1 AND in2 THEN 1 ELSE 0 END) AS BIGINT) AS m, CAST(COUNT(*) AS BIGINT) AS n_seen FROM j), f AS (SELECT *, CAST(n1 + 1 AS DOUBLE) * CAST(n2 + 1 AS DOUBLE) / CAST(m + 1 AS DOUBLE) - 1.0 AS nh, CAST(n1 + 1 AS DOUBLE) * CAST(n2 + 1 AS DOUBLE) * CAST(n1 - m AS DOUBLE) * CAST(n2 - m AS DOUBLE) / (CAST(m + 1 AS DOUBLE) * CAST(m + 1 AS DOUBLE) * CAST(m + 2 AS DOUBLE)) AS varn FROM a) SELECT n1, n2, m, n_seen, round(nh, 6) AS n_hat, round(sqrt(varn), 6) AS se, round(nh - 1.959964 * sqrt(varn), 6) AS ci_lo, round(nh + 1.959964 * sqrt(varn), 6) AS ci_hi FROM f"""))

  /** Phonetic blocking census ([[graft.plans.PhoneticKey]]): every part
    * name keyed by the pinned Soundex-family walk (one codegen byte
    * loop), then the blocking census — parts and distinct names per
    * phonetic bucket. The sounds-alike upgrade of q143/q396's prefix
    * blocking; the oracle replays the walk as a letters-only char
    * unnest + one LAG over the H/W-filtered sequence.
    */
  private def q418(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "part").select(
        graft.plans.PhoneticExpressions.phoneticKey(col("p_name")).as("key"),
        col("p_name"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_parts"),
        count_distinct(col("p_name")).as("n_names"))
      .orderBy(col("key"))

  // the pinned Soundex walk as char unnest + LAG over the no-H/W seq
  query("q418_phonetic_block", q418)(Sql(
    """WITH base AS (SELECT p_partkey, p_name FROM part), cl AS (SELECT p_partkey, upper(regexp_replace(p_name, '[^A-Za-z]', '', 'g')) AS l FROM base), m AS (SELECT p_partkey, generate_subscripts(string_split(l, ''), 1) AS i, CAST(substr('01230127022455012623017202', ascii(unnest(string_split(l, ''))) - 64, 1) AS INTEGER) AS code FROM cl WHERE length(l) > 0), noh AS (SELECT p_partkey, i, code, LAG(code) OVER (PARTITION BY p_partkey ORDER BY i) AS prev FROM m WHERE code <> 7), em AS (SELECT p_partkey, i, CAST(code AS VARCHAR) AS d, ROW_NUMBER() OVER (PARTITION BY p_partkey ORDER BY i) AS rn FROM noh WHERE i > 1 AND code BETWEEN 1 AND 6 AND (prev IS NULL OR prev <> code)), dig AS (SELECT p_partkey, string_agg(d, '' ORDER BY i) AS ds FROM em WHERE rn <= 3 GROUP BY 1), ky AS (SELECT b.p_partkey, b.p_name, CASE WHEN length(cl.l) = 0 THEN '' ELSE substr(cl.l, 1, 1) || rpad(COALESCE(dig.ds, ''), 3, '0') END AS key FROM base b JOIN cl ON b.p_partkey = cl.p_partkey LEFT JOIN dig ON b.p_partkey = dig.p_partkey) SELECT key, CAST(COUNT(*) AS BIGINT) AS n_parts, CAST(COUNT(DISTINCT p_name) AS BIGINT) AS n_names FROM ky GROUP BY key ORDER BY key"""))

  /** AMS F₂ sketch ([[graft.operators.Sketches.amsF2]]): the
    * second-frequency-moment estimate (= q386's self-join size) from 64
    * signed counters vs the exact Σc² — integer signs, exact sums,
    * the sketch replayed hash for hash.
    */
  private def q398(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.amsF2(T(s, dir, "events"), "user_id",
      k = 64, salt = "ams")

  // 64 signed counters vs the exact self-join moment
  query("q398_ams_f2", q398)(Sql(
    """WITH c AS (SELECT CAST(user_id AS VARCHAR) AS u, CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1), jj AS (SELECT unnest(range(0, 64)) AS j), sgn AS (SELECT jj.j, c.c, 1 - 2 * (CAST(concat('0x', substr(md5(concat('ams:', CAST(jj.j AS VARCHAR), ':', c.u)), 1, 13)) AS BIGINT) % 2) AS s FROM c, jj), z AS (SELECT j, SUM(CAST(s * c AS DECIMAL(38,0))) AS z FROM sgn GROUP BY j), zz AS (SELECT SUM(z * z) AS zz, CAST(COUNT(*) AS BIGINT) AS nk FROM z), ex AS (SELECT SUM(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))) AS f2, CAST(COUNT(*) AS BIGINT) AS n_keys FROM c) SELECT n_keys, CAST(f2 AS DOUBLE) AS f2_exact, round(CAST(zz AS DOUBLE) / CAST(nk AS DOUBLE), 6) AS f2_ams, round((CAST(zz AS DOUBLE) / CAST(nk AS DOUBLE) - CAST(f2 AS DOUBLE)) / CAST(f2 AS DOUBLE), 6) AS rel_error FROM ex, zz"""))

  /** SLIDING-WINDOW HLL ([[graft.operators.Sketches.slidingHllCells]]):
    * one (bucket, ρ, max-ts) cell store answers distinct-user counts
    * for BOTH the full range and the recent half — per-window registers
    * re-derived by a ts filter over ≤ 256·45 cells, estimated by
    * [[graft.operators.Sketches.hllEstimate]], compared to exact.
    */
  private def q399(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events").select(col("user_id"),
      col("ts").cast("long").as("t"))
    val mm = ev.agg(min(col("t")).as("tmin"), max(col("t")).as("tmax"))
    val cells = graft.operators.Sketches.slidingHllCells(
      ev.withColumn("g", lit("all")), "g", "user_id", "t")
      .crossJoin(broadcast(mm))
      .withColumn("mid", expr("(tmin + tmax) div 2"))
    val winCells = cells
      .select(col("j"), col("rho"), col("max_ts"), lit("w_all").as("g"),
        col("tmin").as("cut"))
      .unionByName(cells.select(col("j"), col("rho"), col("max_ts"),
        lit("w_recent").as("g"), (col("mid") + 1L).as("cut")))
    val regs = winCells.filter(col("max_ts") >= col("cut"))
      .groupBy(col("g"), col("j")).agg(max(col("rho")).as("m"))
    val est = graft.operators.Sketches.hllEstimate(regs)
    val evm = ev.crossJoin(broadcast(mm))
      .withColumn("mid", expr("(tmin + tmax) div 2"))
    val exact = evm.filter(col("t") >= col("tmin"))
      .agg(count_distinct(col("user_id")).as("n_exact"))
      .withColumn("g", lit("w_all")).select("g", "n_exact")
      .unionByName(evm.filter(col("t") >= col("mid") + 1L)
        .agg(count_distinct(col("user_id")).as("n_exact"))
        .withColumn("g", lit("w_recent")).select("g", "n_exact"))
    est.join(exact, "g")
      .withColumn("rel_error",
        round((col("estimate") - col("n_exact").cast("double")) /
          col("n_exact").cast("double"), 6))
      .orderBy(col("g"))
  }

  // one cell store, per-window registers by ts filter, q379's finish
  query("q399_sliding_hll", q399)(Sql(
    """WITH e AS (SELECT user_id, epoch_ns(ts) AS t FROM events), mm AS (SELECT MIN(t) AS tmin, (MIN(t) + MAX(t)) // 2 AS mid FROM e), h AS (SELECT user_id, t, CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) AS hh FROM e), cells AS (SELECT hh % 256 AS j, CASE WHEN hh // 256 = 0 THEN 45 ELSE 45 - length(bin(hh // 256)) END AS rho, MAX(t) AS max_ts FROM h GROUP BY 1, 2), wc AS (SELECT 'w_all' AS g, j, rho FROM cells, mm WHERE max_ts >= mm.tmin UNION ALL SELECT 'w_recent', j, rho FROM cells, mm WHERE max_ts >= mm.mid + 1), regs AS (SELECT g, j, MAX(rho) AS m FROM wc GROUP BY 1, 2), agg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_regs, SUM(CAST(round(pow(2.0, -m), 18) AS DECIMAL(38,18))) AS sp FROM regs GROUP BY g), e2 AS (SELECT g, n_regs, 256 - n_regs AS v_empty, 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 / CAST(sp + CAST(256 - n_regs AS DECIMAL(38,18)) AS DOUBLE) AS eraw FROM agg), ex AS (SELECT 'w_all' AS g, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact FROM e, mm WHERE t >= mm.tmin UNION ALL SELECT 'w_recent', CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM e, mm WHERE t >= mm.mid + 1) SELECT e2.g, e2.n_regs, CAST(e2.v_empty AS BIGINT) AS v_empty, round(CASE WHEN eraw <= 640.0 AND v_empty > 0 THEN 256.0 * ln(256.0 / CAST(v_empty AS DOUBLE)) ELSE eraw END, 6) AS estimate, ex.n_exact, round((CASE WHEN eraw <= 640.0 AND v_empty > 0 THEN 256.0 * ln(256.0 / CAST(v_empty AS DOUBLE)) ELSE eraw END - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE), 6) AS rel_error FROM e2 JOIN ex ON e2.g = ex.g ORDER BY e2.g"""))

  /** FELLEGI–SUNTER EM ([[graft.operators.Linkage.fellegiSunter]]):
    * m/u agreement probabilities and log-likelihood weights learned
    * UNSUPERVISED from sorted-neighborhood customer pairs (nation /
    * segment / close-balance agreement) — the principled upgrade of
    * q143's hand-thresholded fuzzy linkage; EM runs on the 2³-pattern
    * census, oracle replays it as a 10-round unrolled CTE chain.
    */
  private def q396(s: SparkSession, dir: String): DataFrame = {
    val c = T(s, dir, "customer").select(col("c_custkey"),
      col("c_nationkey"), col("c_mktsegment"),
      (col("c_acctbal").cast(DecimalType(18, 2)) * 100).cast("long")
        .as("bal"))
    val ranked = graft.operators.GlobalOrder.rowNumbers(c,
      Seq(col("bal"), col("c_custkey")), idCol = "rnk")
    val left = ranked.select(col("rnk"), col("c_nationkey").as("n1"),
        col("c_mktsegment").as("s1"), col("bal").as("b1"))
      .withColumn("d", explode(array(lit(1L), lit(2L), lit(3L))))
      .withColumn("tgt", col("rnk") + col("d"))
    val pairs = left.join(ranked.select(col("rnk").as("tgt"),
        col("c_nationkey").as("n2"), col("c_mktsegment").as("s2"),
        col("bal").as("b2")), Seq("tgt"))
      .select((col("n1") === col("n2")).as("same_nation"),
        (col("s1") === col("s2")).as("same_segment"),
        (abs(col("b1") - col("b2")) < 5000L).as("close_balance"))
    graft.operators.Linkage.fellegiSunter(pairs,
      Seq("same_nation", "same_segment", "close_balance"), iters = 10)
      .orderBy(col("field"))
  }

  // EM unrolled to 10 materialized state CTEs over the pattern census
  query("q396_fellegi_sunter", q396)(Sql(fsSql(10)))

  /** FIRST-FIT-DECREASING compaction plan
    * ([[graft.operators.Packing.ffdPlan]]): per-brand file lists
    * (deterministic sizes from retail-price cents) packed into 128 MB
    * bins — the PLANNING half of compaction upstream of q111/q127's
    * rewrites; partitions parallelize, the per-partition fold is
    * metadata-sized by contract.
    */
  private def q389(s: SparkSession, dir: String): DataFrame = {
    val cap = 134217728L
    val files = T(s, dir, "part").select(col("p_brand"),
      col("p_partkey"),
      (pmod((col("p_retailprice").cast(DecimalType(18, 2)) * 100)
        .cast("long"), lit(cap)) + 1L).as("bytes"))
    graft.operators.Packing.ffdPlan(files, "p_brand", "p_partkey",
      "bytes", cap).orderBy(col("part"), col("id"))
  }

  // the FFD fold replayed per partition: bins as LIST state in a
  // parallel recursive CTE (x/y lambda names distinct per the §6 rule)
  query("q389_compaction_plan", q389)(Sql(
    """WITH RECURSIVE f AS (SELECT p_brand AS part, CAST(p_partkey AS BIGINT) AS id, CAST(CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) % 134217728 AS BIGINT) + 1 AS sz FROM part), it AS (SELECT part, id, sz, ROW_NUMBER() OVER (PARTITION BY part ORDER BY sz DESC, id) AS rn FROM f), rec AS (SELECT part, CAST(1 AS BIGINT) AS rn, id, sz, CAST(1 AS BIGINT) AS bin, [CAST(134217728 - sz AS BIGINT)] AS rem FROM it WHERE rn = 1 UNION ALL SELECT i.part, i.rn, i.id, i.sz, CAST(CASE WHEN len(list_filter(range(1, len(r.rem) + 1), x -> r.rem[x] >= i.sz)) > 0 THEN list_filter(range(1, len(r.rem) + 1), x -> r.rem[x] >= i.sz)[1] ELSE len(r.rem) + 1 END AS BIGINT) AS bin, CASE WHEN len(list_filter(range(1, len(r.rem) + 1), x -> r.rem[x] >= i.sz)) > 0 THEN list_transform(range(1, len(r.rem) + 1), z -> CASE WHEN z = list_filter(range(1, len(r.rem) + 1), y -> r.rem[y] >= i.sz)[1] THEN r.rem[z] - i.sz ELSE r.rem[z] END) ELSE list_append(r.rem, CAST(134217728 - i.sz AS BIGINT)) END AS rem FROM rec r JOIN it i ON i.part = r.part AND i.rn = r.rn + 1) SELECT part, id, sz AS size, bin FROM rec ORDER BY part, id"""))

  /** Tokenizer-coverage audit ([[graft.operators.TextPipeline.oovRate]]):
    * per-language OOV rate against the top-1000 frequency vocabulary —
    * the fairness lens on q156's vocab (a shared vocabulary under-serves
    * low-resource languages first). Broadcast vocab apply; exact integer
    * token counts.
    */
  private def q262(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.oovRate(T(s, dir, "documents"), topN = 1000)
      .orderBy(col("lang"))

  // same normalized word split as q156; OOV = absence from the top-1000
  // by (count desc, word asc); rates from exact integer counts
  query("q262_oov_rate", q262)(Sql(
    """WITH w AS (SELECT doc_id, lang, unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w FROM documents), c AS (SELECT w, COUNT(*) AS cnt FROM w GROUP BY 1), v AS (SELECT w FROM (SELECT w, ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS rn FROM c) WHERE rn <= 1000) SELECT lang, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_tokens, CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov, round(CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS oov_rate FROM w LEFT JOIN v ON w.w = v.w GROUP BY lang ORDER BY lang"""))

  /** Zipf-law fit ([[graft.operators.TextPipeline.zipfFit]]) over the
    * top-500 corpus frequency spectrum: OLS slope/intercept in log-log
    * space with decimal-summed terms (order-independent exactness, the
    * q256 discipline). Slope ≈ -1 is healthy natural text; flat slopes
    * flag templated corpora before they poison a training mix.
    */
  private def q277(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.zipfFit(T(s, dir, "documents"), "text", 500)

  // per-rank OLS terms rounded to 9 decimals and decimal-summed (the
  // q256 discipline), then the identical closed-form slope/intercept
  query("q277_zipf_fit", q277)(Sql(
    """WITH w AS (SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w FROM documents), c AS (SELECT w, COUNT(*) AS cnt FROM w GROUP BY 1), r AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS rn FROM c QUALIFY rn <= 500), t AS (SELECT CAST(round(ln(CAST(rn AS DOUBLE)), 9) AS DECIMAL(18,9)) AS tx, CAST(round(ln(CAST(cnt AS DOUBLE)), 9) AS DECIMAL(18,9)) AS ty, CAST(round(ln(CAST(rn AS DOUBLE)) * ln(CAST(rn AS DOUBLE)), 9) AS DECIMAL(18,9)) AS txx, CAST(round(ln(CAST(rn AS DOUBLE)) * ln(CAST(cnt AS DOUBLE)), 9) AS DECIMAL(18,9)) AS txy FROM r), a AS (SELECT COUNT(*) AS n, SUM(tx) AS sx, SUM(ty) AS sy, SUM(txx) AS sxx, SUM(txy) AS sxy FROM t) SELECT n, round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope, round((CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept FROM a"""))

  /** Scene-cut detection over video-ish payloads
    * ([[graft.operators.Multimodal.sceneCuts]]): consecutive fixed-size
    * frames compared byte-for-byte, cuts where the changed-byte ratio
    * crosses the threshold — the shot-boundary pass of a video ingest
    * pipeline, replayed by the oracle hex pair by hex pair.
    */
  private def q193(s: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.sceneCuts(
      graft.operators.Multimodal.attachPayload(
        T(s, dir, "documents").filter(col("doc_id") <= 200)))
      .orderBy(col("doc_id"), col("frame_idx"))

  query("q193_scene_cuts", q193)(Sql(
    """WITH p AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents WHERE doc_id <= 200), f AS (SELECT doc_id, unnest(range(0, greatest(length(hx) // 2, 1), 256)) AS off, hx FROM p WHERE length(hx) > 0), fr AS (SELECT doc_id, CAST(off // 256 AS BIGINT) AS frame_idx, substring(hx, CAST(off * 2 + 1 AS BIGINT), 512) AS h FROM f), lg AS (SELECT doc_id, frame_idx, h, lag(h) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS hp FROM fr), df AS (SELECT doc_id, frame_idx, h, hp, CASE WHEN hp IS NULL THEN NULL ELSE CAST(list_reduce(list_prepend(0, list_transform(range(0, least(length(h), length(hp)) // 2), i3 -> CASE WHEN substring(h, CAST(i3 * 2 + 1 AS INTEGER), 2) = substring(hp, CAST(i3 * 2 + 1 AS INTEGER), 2) THEN 0 ELSE 1 END)), (a3, b3) -> a3 + b3) + abs(length(h) - length(hp)) // 2 AS BIGINT) END AS diff_bytes FROM lg) SELECT doc_id, frame_idx, CAST(length(h) // 2 AS BIGINT) AS frame_len, diff_bytes, (hp IS NULL OR diff_bytes > 0.5 * (length(h) / 2.0)) AS is_cut FROM df ORDER BY doc_id, frame_idx"""))

  /** IVF-PQ composite ANN ([[Similarity.annIvfPq]]): coarse cells prune
    * the search, PQ reconstructions replace the raw vectors in scoring —
    * the IVFADC pairing, oracle-replayed end to end (coarse k-means +
    * four codebook k-means + probe + ADC rank).
    */
  private def q195(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    Similarity.annIvfPq(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 64)
  }

  query("q195_ivf_pq", q195)(Sql(ivfPqOracleSql))

  /** Bitmap set algebra ([[graft.operators.Sketches.bitmapPairCounts]]):
    * audience-overlap counts for every event-type pair — exact
    * intersection via word-level AND on the standing bitmap store, union
    * and differences by inclusion–exclusion from the totals. The query
    * class HLL only approximates.
    */
  private def q197(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events").select(col("event_type"), col("user_id"))
    graft.operators.Sketches.bitmapPairCounts(
      graft.operators.Sketches.bitmapWords(ev, Seq("event_type"), "user_id"),
      "event_type")
      .orderBy(col("ga"), col("gb"))
  }

  query("q197_bitmap_algebra", q197)(Sql(
    """WITH ut AS (SELECT DISTINCT event_type, user_id FROM events), t AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY 1), p AS (SELECT a.event_type AS ga, a.n AS n_a, b.event_type AS gb, b.n AS n_b FROM t a JOIN t b ON a.event_type < b.event_type), ib AS (SELECT x.event_type AS ga, y.event_type AS gb, COUNT(*) AS n_both FROM ut x JOIN ut y ON x.user_id = y.user_id AND x.event_type < y.event_type GROUP BY 1, 2) SELECT p.ga, p.gb, p.n_a, p.n_b, COALESCE(ib.n_both, 0) AS n_both, p.n_a + p.n_b - COALESCE(ib.n_both, 0) AS n_union, p.n_a - COALESCE(ib.n_both, 0) AS n_only_a, p.n_b - COALESCE(ib.n_both, 0) AS n_only_b FROM p LEFT JOIN ib ON p.ga = ib.ga AND p.gb = ib.gb ORDER BY p.ga, p.gb"""))

  // --- LSH parity helpers: the SAME ±1 plane-weight literals the Spark side
  // materializes are inlined into the oracle SQL, and the dot product is a
  // left-to-right list_reduce fold — bit-identical to the VecDot codegen
  // loop (float→double casts and ±1.0 multiplies are exact, and DuckDB's
  // first-element seed equals Spark's 0.0+x1). Macros arrive via the
  // multi-statement prelude; the driver's execute() returns the last
  // statement's result.

  private def planeArr(p: Int): String =
    VF.planeWeights(p, 64).map(w => if (w > 0) "1.0" else "-1.0")
      .mkString("[", ",", "]")

  /** 8-bit LSH band signature expression over `embedding`, planes
    * [first, first+8) — mirrors `VectorFunctions.lshSignature`.
    */
  private def sigExpr(first: Int): String =
    (0 until 8).map(i =>
      s"(CASE WHEN pdot(embedding, ${planeArr(first + i)}) >= 0 THEN ${1 << i} ELSE 0 END)")
      .mkString(" + ")

  private def padLit(j: Int): String =
    s"CAST('${uns(0x9e3779b97f4a7c15L * (j + 1))}' AS HUGEINT)"

  private def rotlSql(x: String, r0: Int): String = {
    val r = ((r0 % 64) + 64) % 64
    if (r == 0) x else s"(u64(($x) << $r) | (($x) >> ${64 - r}))"
  }

  /** Mirrors Dedup.perm: rotl(h, (13i+7)%64) xor C_i. */
  private def permSql(s: String, i: Int): String = {
    val c = i * 0x9e3779b97f4a7c15L + 0x2545f4914f6cdd1dL
    s"xor(${rotlSql(s, (13 * i + 7) % 64)}, CAST('${uns(c)}' AS HUGEINT))"
  }

  /** 32 minhash values (signed, min over shingles) as a list expression. */
  private def sigSql: String =
    (0 until 32).map(i =>
      s"list_min(list_transform(sh, s -> tosigned(${permSql("s", i)})))")
      .mkString("[", ", ", "]")

  /** Band b's key: xorshift fold of 4 signature slots + band index. */
  private def bandSql(b: Int): String = {
    val vals = (0 until 4).map(r => s"tounsigned(sig[${b * 4 + r + 1}])").mkString(", ")
    s"list_reduce(list_prepend(CAST('${uns(graft.operators.Dedup.MixSeed)}' AS HUGEINT), [$vals, CAST($b AS HUGEINT)]), (a, x) -> xstep(a, x))"
  }

  /** 64-bit simhash (unsigned HUGEINT) from the word-hash list `h` and
    * word count `n` — bit j set iff 2*ones_j >= n, like Dedup.simhashes.
    */
  private def simhashSqlExpr: String =
    (0 until 64).map(j =>
      s"(CASE WHEN 2 * len(list_filter(h, x -> (x >> $j) & 1 = 1)) >= n THEN CAST('${uns(1L << j)}' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END)")
      .mkString("(", " + ", ")")

  /** q475 replay: the 8-round BPE trainer unrolled — per round a pair
    * census over the delimited symbol strings, a LIMIT-1 argmax
    * (total desc, lft, rgt — the engine's total order) and the literal
    * greedy replace; `replace` is non-overlapping left-to-right in both
    * engines, which IS the BPE scan rule.
    */
  private def bpeTrainOracleSql(merges: Int): String = {
    val round = (1 to merges).map { k =>
      val prev = s"s${k - 1}"
      s"p$k AS MATERIALIZED (SELECT t[i] AS lft, t[i+1] AS rgt, CAST(SUM(cnt) AS BIGINT) AS total FROM (SELECT cnt, list_filter(string_split_regex(seq, '[\\x1E\\x1F]'), x9 -> x9 <> '') AS t FROM $prev), LATERAL (SELECT unnest(range(1, len(t))) AS i) u GROUP BY 1, 2), " +
        s"m$k AS MATERIALIZED (SELECT lft, rgt, total FROM p$k ORDER BY total DESC, lft, rgt LIMIT 1), " +
        s"s$k AS MATERIALIZED (SELECT w, cnt, replace(seq, chr(31) || m.lft || chr(30) || chr(31) || m.rgt || chr(30), chr(31) || m.lft || m.rgt || chr(30)) AS seq FROM $prev, m$k m)"
    }.mkString(", ")
    val out = (1 to merges).map(k =>
      s"SELECT CAST($k AS BIGINT) AS rank, lft, rgt, lft || rgt AS merged, total FROM m$k")
      .mkString(" UNION ALL ")
    "WITH wc AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w FROM documents) WHERE w <> '' GROUP BY w), " +
      "s0 AS MATERIALIZED (SELECT w, cnt, list_reduce(list_prepend('', list_transform(range(1, length(w) + 1), i8 -> chr(31) || substr(w, CAST(i8 AS INTEGER), 1) || chr(30))), (a8, b8) -> a8 || b8) AS seq FROM wc), " +
      s"$round $out ORDER BY rank"
  }

  /** q474 replay: exact top-10 (q26), 2-band LSH top-10 (q215's ap),
    * the full 2-iteration k-means + cells (q40), one probe-ranked
    * retrieval per nProbe level, then a per-method recall readout —
    * every number in the sweep table is hash-exact.
    */
  private def recallSweepOracleSql: String = {
    def probeCtes(p: Int) =
      s"cand$p AS (SELECT DISTINCT pr.qid, s2.vec_id AS nid FROM (SELECT qid, cid FROM qsim WHERE rnk <= $p) pr JOIN cells s2 ON pr.cid = s2.cid WHERE s2.vec_id <> pr.qid), " +
        s"sc$p AS (SELECT c.qid, c.nid, round(pcos(qe.embedding, ne.embedding), 4) AS cos_r FROM cand$p c JOIN embeddings qe ON qe.vec_id = c.qid JOIN embeddings ne ON ne.vec_id = c.nid), " +
        s"ap$p AS (SELECT qid, nid FROM (SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_r DESC NULLS LAST, nid) AS rnk FROM sc$p) WHERE rnk <= 10)"
    def readout(method: String, ap: String) =
      s"SELECT '$method' AS method, CAST(COUNT(*) AS BIGINT) AS n_queries, CAST(SUM(n_exact) AS BIGINT) AS n_exact, CAST(SUM(n_hit) AS BIGINT) AS n_hit, round(CAST(SUM(n_hit) AS DOUBLE) / CAST(SUM(n_exact) AS DOUBLE), 6) AS recall FROM (SELECT ex.qid, COUNT(*) AS n_exact, COUNT($ap.nid) AS n_hit FROM ex LEFT JOIN $ap ON ex.qid = $ap.qid AND ex.nid = $ap.nid GROUP BY ex.qid)"
    s"$VEC_MACROS; WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10), " +
      "s AS (SELECT q.qid, e.vec_id AS nid, list_cosine_similarity(q.qv, e.embedding) AS cos FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.qid), " +
      "ex AS (SELECT qid, nid FROM (SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk FROM s) WHERE rnk <= 10), " +
      s"sigs AS (SELECT vec_id, embedding, ${sigExpr(0)} AS b0, ${sigExpr(8)} AS b1 FROM embeddings), " +
      "candl AS (SELECT DISTINCT qc.vec_id AS qid, e.vec_id AS nid, round(pcos(qc.embedding, e.embedding), 4) AS cos_r FROM sigs qc JOIN sigs e ON (qc.b0 = e.b0 OR qc.b1 = e.b1) AND qc.vec_id <> e.vec_id WHERE qc.vec_id < 10), " +
      "apl AS (SELECT qid, nid FROM (SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_r DESC NULLS LAST, nid) AS rnk FROM candl) WHERE rnk <= 10), " +
      "c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)), " +
      s"a1 AS (${ivfAssignSql("c0")}), c1 AS (${ivfRecomputeSql("c0", "a1")}), " +
      s"a2 AS (${ivfAssignSql("c1")}), c2 AS (${ivfRecomputeSql("c1", "a2")}), " +
      s"cells AS (${ivfAssignSql("c2")}), " +
      "qsim AS (SELECT qq.vec_id AS qid, c.cid, ROW_NUMBER() OVER (PARTITION BY qq.vec_id ORDER BY pcos(qq.embedding, c.cvec) DESC NULLS LAST, c.cid) AS rnk FROM embeddings qq CROSS JOIN c2 c WHERE qq.vec_id < 10), " +
      s"${probeCtes(1)}, ${probeCtes(2)}, ${probeCtes(4)} " +
      s"${readout("lsh_2band", "apl")} UNION ALL ${readout("ivf_p01", "ap1")} UNION ALL ${readout("ivf_p02", "ap2")} UNION ALL ${readout("ivf_p04", "ap4")} ORDER BY method"
  }

  /** Nearest-centroid assignment for the q40/q167 oracles (C = centroid
    * CTE; `where` restricts the assigned corpus, e.g. to the index's base
    * set).
    */
  private def ivfAssignSql(c: String, where: String = ""): String =
    s"""SELECT vec_id, cid FROM (SELECT e.vec_id, c.cid, ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY pcos(e.embedding, c.cvec) DESC NULLS LAST, c.cid) AS rnk FROM (SELECT vec_id, embedding FROM embeddings $where) e CROSS JOIN $c c) WHERE rnk = 1"""

  /** Lloyd recompute for the q40 oracle: decimal-exact per-position means
    * (the same DECIMAL(30,12) sum / count the Spark side uses — that
    * determinism fix is what makes this oracle possible), empty cells carry
    * the previous centroid.
    */
  private def ivfRecomputeSql(c: String, a: String): String =
    s"""SELECT prev.cid, COALESCE(r.nvec, prev.cvec) AS cvec FROM $c prev LEFT JOIN (SELECT cid, list(m ORDER BY pos) AS nvec FROM (SELECT a.cid, u.pos, CAST(SUM(CAST(u.x AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*) AS m FROM embeddings e JOIN $a a ON e.vec_id = a.vec_id, LATERAL (SELECT unnest(list_transform(e.embedding, f -> CAST(f AS DOUBLE))) AS x, generate_subscripts(e.embedding, 1) AS pos) u GROUP BY a.cid, u.pos) GROUP BY cid) r ON prev.cid = r.cid"""

  // --- PQ parity (q188): per-subspace L2 k-means over embedding slices.
  // pl2s is the 16-dim squared-Euclidean fold, left-to-right like the
  // codegen VecL2Sq loop (each term is one subtract+multiply — exact
  // cross-engine). Lambda vars are fresh names (macro expansion is
  // textual; see §6).

  private val PQ_MACRO =
    "CREATE OR REPLACE MACRO pl2s(v, w) AS list_reduce(list_transform(range(1, 17), i2 -> (CAST(v[i2] AS DOUBLE) - w[i2]) * (CAST(v[i2] AS DOUBLE) - w[i2])), (a2, b2) -> a2 + b2)"

  /** Nearest-codeword assignment (L2 ascending, ties to lowest cid) for
    * subspace CTE `em` (vec_id, sv) against codebook CTE `c`.
    */
  private def pqAssignSql(em: String, c: String): String =
    s"""SELECT vec_id, cid FROM (SELECT e.vec_id, c.cid, ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY pl2s(e.sv, c.cvec), c.cid) AS rnk FROM $em e CROSS JOIN $c c) WHERE rnk = 1"""

  /** Lloyd recompute on a slice CTE — the same DECIMAL(30,12)-exact
    * per-position means as [[ivfRecomputeSql]], over `sv` instead of the
    * full embedding.
    */
  private def pqRecomputeSql(em: String, c: String, a: String): String =
    s"""SELECT prev.cid, COALESCE(r.nvec, prev.cvec) AS cvec FROM $c prev LEFT JOIN (SELECT cid, list(m ORDER BY pos) AS nvec FROM (SELECT a.cid, u.pos, CAST(SUM(CAST(u.x AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*) AS m FROM $em e JOIN $a a ON e.vec_id = a.vec_id, LATERAL (SELECT unnest(list_transform(e.sv, f -> CAST(f AS DOUBLE))) AS x, generate_subscripts(e.sv, 1) AS pos) u GROUP BY a.cid, u.pos) GROUP BY cid) r ON prev.cid = r.cid"""

  /** The PQ pipeline as CTE text (4 independent subspace k-means — init +
    * 2 Lloyd iterations — code assignment, concatenated reconstruction in
    * `recon(nid, rv)`), shared by the q188 and q195 oracles.
    */
  private def pqCtes(trainWhere: String = ""): String = {
    val per = (0 until 4).map { m =>
      val lo = m * 16 + 1
      val hi = (m + 1) * 16
      // emt = the TRAINING slice (the whole corpus, or the index's base
      // set for the incremental-append replay); code assignment always
      // covers em (all vectors)
      s"""em$m AS (SELECT vec_id, embedding[$lo:$hi] AS sv FROM embeddings), emt$m AS (SELECT vec_id, sv FROM em$m $trainWhere), c${m}_0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, list_transform(sv, x -> CAST(x AS DOUBLE)) AS cvec FROM (SELECT vec_id, sv FROM emt$m ORDER BY vec_id LIMIT 16)), a${m}_1 AS (${pqAssignSql(s"emt$m", s"c${m}_0")}), c${m}_1 AS (${pqRecomputeSql(s"emt$m", s"c${m}_0", s"a${m}_1")}), a${m}_2 AS (${pqAssignSql(s"emt$m", s"c${m}_1")}), c${m}_2 AS (${pqRecomputeSql(s"emt$m", s"c${m}_1", s"a${m}_2")}), code$m AS (${pqAssignSql(s"em$m", s"c${m}_2")})"""
    }.mkString(", ")
    val books = (0 until 4).map(m =>
      s"SELECT $m AS sub_idx, cid, cvec FROM c${m}_2").mkString(" UNION ALL ")
    val codes = (0 until 4).map(m =>
      s"SELECT vec_id, $m AS sub_idx, cid FROM code$m").mkString(" UNION ALL ")
    s"""$per, books AS ($books), codes AS ($codes), recon AS (SELECT c.vec_id AS nid, flatten(list(b.cvec ORDER BY c.sub_idx)) AS rv FROM codes c JOIN books b ON c.sub_idx = b.sub_idx AND c.cid = b.cid GROUP BY c.vec_id)"""
  }

  /** DuckDB replay of [[graft.operators.Linkage.fellegiSunter]]: the EM
    * unrolled to `iters` MATERIALIZED state CTEs over the 2³-pattern
    * census; state probabilities live as DECIMAL(11,9) so the E-step
    * products are exact decimals matching the engine's BigDecimal
    * arithmetic, with one pinned double division per update onto the
    * 1e-9 grid.
    */
  private def fsSql(iters: Int): String = {
    def mp(pfx: String) = (1 to 3).map(i =>
      s"(CASE WHEN c.b$i = 1 THEN s.$pfx$i ELSE 1 - s.$pfx$i END)")
      .mkString(" * ")
    // Winkler clamp on the 1e-9 grid — mirrors Linkage.grid9's
    // max(1e-9).min(1-1e-9) so the degenerate-census path (all resp
    // rounding to 0 at scale) replays instead of dividing 0/0.
    def cl(x: String) =
      s"CAST(least(greatest(round($x, 9), 0.000000001), 0.999999999) AS DECIMAL(11,9))"
    val steps = (1 to iters).map { i =>
      val e = s"e$i AS MATERIALIZED (SELECT c.b1, c.b2, c.b3, c.cnt, " +
        cl(s"CAST(s.lam * ${mp("m")} AS DOUBLE) / " +
          s"CAST(s.lam * ${mp("m")} + (1 - s.lam) * ${mp("u")} AS DOUBLE)") +
        s" AS resp FROM cen c, s${i - 1} s)"
      def mU(i2: Int) =
        cl(s"CAST(SUM(CASE WHEN b$i2 = 1 THEN cnt * resp ELSE 0 END) AS DOUBLE) / CAST(SUM(cnt * resp) AS DOUBLE)") + s" AS m$i2"
      def uU(i2: Int) =
        cl(s"CAST(SUM(CASE WHEN b$i2 = 1 THEN cnt * (1 - resp) ELSE 0 END) AS DOUBLE) / CAST(SUM(cnt * (1 - resp)) AS DOUBLE)") + s" AS u$i2"
      val st = s"s$i AS MATERIALIZED (SELECT " +
        cl(s"CAST(SUM(cnt * resp) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE)") + " AS lam, " +
        (1 to 3).map(mU).mkString(", ") + ", " +
        (1 to 3).map(uU).mkString(", ") + s" FROM e$i)"
      s"$e, $st"
    }.mkString(", ")
    def outRow(name: String, i: Int) =
      s"SELECT '$name' AS field, CAST(s.m$i AS DOUBLE) AS m_prob, " +
        s"CAST(s.u$i AS DOUBLE) AS u_prob, " +
        s"round(ln(CAST(s.m$i AS DOUBLE) / CAST(s.u$i AS DOUBLE)), 6) AS w_agree, " +
        s"round(ln(CAST(1 - s.m$i AS DOUBLE) / CAST(1 - s.u$i AS DOUBLE)), 6) AS w_disagree, " +
        s"CAST(s.lam AS DOUBLE) AS lambda FROM s$iters s"
    "WITH r AS (SELECT c_custkey, c_nationkey, c_mktsegment, " +
      "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal FROM customer), " +
      "rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY bal, c_custkey) AS rnk FROM r), " +
      "pr AS (SELECT CAST(a.c_nationkey = b.c_nationkey AS INTEGER) AS b1, " +
      "CAST(a.c_mktsegment = b.c_mktsegment AS INTEGER) AS b2, " +
      "CAST(abs(a.bal - b.bal) < 5000 AS INTEGER) AS b3 " +
      "FROM rk a JOIN rk b ON b.rnk - a.rnk IN (1, 2, 3)), " +
      "cen AS MATERIALIZED (SELECT b1, b2, b3, CAST(COUNT(*) AS DECIMAL(38,0)) AS cnt FROM pr GROUP BY 1, 2, 3), " +
      "s0 AS (SELECT CAST(0.1 AS DECIMAL(11,9)) AS lam, " +
      (1 to 3).map(i => s"CAST(0.9 AS DECIMAL(11,9)) AS m$i").mkString(", ") + ", " +
      (1 to 3).map(i => s"CAST(0.1 AS DECIMAL(11,9)) AS u$i").mkString(", ") + "), " +
      steps +
      s" ${outRow("close_balance", 3)} UNION ALL ${outRow("same_nation", 1)} UNION ALL ${outRow("same_segment", 2)} ORDER BY field"
  }

  /** Greedy tokenizer replay: 10 unrolled maximal-munch steps (longest
    * word is 8 chars; the extra steps are no-ops on an empty suffix),
    * each taking the longest vocabulary prefix via a correlated arg_max —
    * ties are impossible (equal-length prefixes of one string are equal).
    */
  private val tokenizeOracleSql: String = {
    val steps = (1 to 10).map(i =>
      s", s$i AS (SELECT w, freq, CASE WHEN rest = '' THEN rest ELSE " +
        "substr(rest, length((SELECT arg_max(t, length(t)) FROM vocab WHERE starts_with(rest, t))) + 1) END AS rest, " +
        "CASE WHEN rest = '' THEN toks ELSE " +
        "list_append(toks, (SELECT arg_max(t, length(t)) FROM vocab WHERE starts_with(rest, t))) END AS toks " +
        s"FROM s${i - 1})").mkString("")
    """WITH freq AS (SELECT w, COUNT(*) AS freq FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w FROM documents) GROUP BY w), """ +
      "top AS (SELECT w AS t FROM freq ORDER BY freq DESC, w LIMIT 15), " +
      "chars AS (SELECT DISTINCT substr(w, ci + 1, 1) AS t FROM freq, LATERAL (SELECT unnest(range(length(w))) AS ci) u), " +
      "vocab AS (SELECT DISTINCT t FROM (SELECT t FROM top UNION ALL SELECT t FROM chars)), " +
      "s0 AS (SELECT w, freq, w AS rest, CAST([] AS VARCHAR[]) AS toks FROM freq)" +
      steps +
      " SELECT w, freq, CAST(len(toks) AS BIGINT) AS n_tokens, array_to_string(toks, '|') AS tokens FROM s10 ORDER BY w"
  }

  private def canonicalOracleSql: String =
    s"""$HASH_MACROS; WITH RECURSIVE hs AS ($DOC_HASHES), shingled AS (SELECT doc_id, list_transform(range(CASE WHEN n >= 3 THEN n - 2 ELSE 1 END), p -> shmix(shmix(h[p+1], coalesce(h[p+2], ${padLit(1)})), coalesce(h[p+3], ${padLit(2)}))) AS sh FROM hs), sigs AS (SELECT doc_id AS id, $sigSql AS sig FROM shingled), bands AS (SELECT id, sig, unnest(list_zip([${(0 until 8).map(bandSql).mkString(", ")}], [0,1,2,3,4,5,6,7])) AS z FROM sigs), wb AS (SELECT id, sig, z[2] AS band_idx, z[1] AS band_hash, ROW_NUMBER() OVER (PARTITION BY z[2], z[1] ORDER BY id) AS rn FROM bands), p AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b FROM wb a JOIN wb b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.id < b.id WHERE a.rn <= 64 AND b.rn <= 64 AND CAST(len(list_filter(range(32), i -> a.sig[i+1] = b.sig[i+1])) AS DOUBLE) / 32.0 >= 0.3), e AS (SELECT id_a AS src, id_b AS dst FROM p UNION ALL SELECT id_b, id_a FROM p), reach(node, label) AS (SELECT doc_id, doc_id FROM documents UNION SELECT e.dst, r.label FROM reach r JOIN e ON e.src = r.node), cl AS (SELECT node AS doc_id, MIN(label) AS cluster_rep FROM reach GROUP BY node), rk AS (SELECT cl.doc_id, cl.cluster_rep, ROW_NUMBER() OVER (PARTITION BY cl.cluster_rep ORDER BY d.n_chars DESC, cl.doc_id) AS r FROM cl JOIN documents d ON d.doc_id = cl.doc_id) SELECT doc_id, cluster_rep, CAST(CASE WHEN r = 1 THEN 1 ELSE 0 END AS INT) AS keep FROM rk ORDER BY doc_id"""

  /** Full q188 replay: PQ pipeline + brute-force ADC cosine ranking. */
  private def pqOracleSql: String =
    s"""$VEC_MACROS; $PQ_MACRO; WITH ${pqCtes()}, scored AS (SELECT q.vec_id AS qid, r.nid, round(pcos(q.embedding, r.rv), 4) AS cos_r FROM embeddings q CROSS JOIN recon r WHERE q.vec_id < 10 AND r.nid <> q.vec_id), rk AS (SELECT qid, nid, cos_r, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_r DESC NULLS LAST, nid) AS rnk FROM scored) SELECT qid, rnk, nid, cos_r FROM rk WHERE rnk <= 5 ORDER BY qid, rnk"""

  /** q208 replay: codebooks trained on the base corpus only, codes over
    * ALL vectors — the incremental-append semantics.
    */
  private def pqAppendOracleSql: String =
    s"""$VEC_MACROS; $PQ_MACRO; WITH ${pqCtes("WHERE vec_id % 5 <> 0")}, scored AS (SELECT q.vec_id AS qid, r.nid, round(pcos(q.embedding, r.rv), 4) AS cos_r FROM embeddings q CROSS JOIN recon r WHERE q.vec_id < 10 AND r.nid <> q.vec_id), rk AS (SELECT qid, nid, cos_r, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_r DESC NULLS LAST, nid) AS rnk FROM scored) SELECT qid, rnk, nid, cos_r FROM rk WHERE rnk <= 5 ORDER BY qid, rnk"""

  /** Full q195 replay: q40's coarse k-means + cell probe for candidate
    * pruning, PQ reconstruction for the scoring — the IVFADC composite.
    */
  private def ivfPqOracleSql: String =
    s"""$VEC_MACROS; $PQ_MACRO; WITH g0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)), ga1 AS (${ivfAssignSql("g0")}), g1 AS (${ivfRecomputeSql("g0", "ga1")}), ga2 AS (${ivfAssignSql("g1")}), g2 AS (${ivfRecomputeSql("g1", "ga2")}), cells AS (${ivfAssignSql("g2")}), ${pqCtes()}, probes AS (SELECT qid, cid FROM (SELECT q.vec_id AS qid, c.cid, ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY pcos(q.embedding, c.cvec) DESC NULLS LAST, c.cid) AS rnk FROM embeddings q CROSS JOIN g2 c WHERE q.vec_id < 10) WHERE rnk <= 2), cand AS (SELECT DISTINCT p.qid, s.vec_id AS nid FROM probes p JOIN cells s ON p.cid = s.cid WHERE s.vec_id <> p.qid), scored AS (SELECT c.qid, c.nid, round(pcos(qe.embedding, r.rv), 4) AS cos_r FROM cand c JOIN embeddings qe ON qe.vec_id = c.qid JOIN recon r ON r.nid = c.nid), rk AS (SELECT qid, nid, cos_r, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_r DESC NULLS LAST, nid) AS rnk FROM scored) SELECT qid, rnk, nid, cos_r FROM rk WHERE rnk <= 5 ORDER BY qid, rnk"""

  /** Shared prelude: per-doc word-hash list + word count. */
  private val DOC_HASHES =
    "SELECT doc_id, list_transform(docwords(text), w -> xshash(w)) AS h, len(docwords(text)) AS n FROM documents"
}
