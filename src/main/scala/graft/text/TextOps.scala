package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** §2.9 Text analysis over the `documents` corpus (SURVEY.md):
  * tokenization/TF, per-language stats, quality scoring, language-ID
  * heuristic, and rolling-hash fingerprinting.
  *
  * Everything is expression-level (`split`/`explode`/higher-order
  * functions) — fully distributed, codegen-friendly, no UDFs. The
  * only shuffles are the final low-cardinality groupBys.
  */
object TextOps {

  /** Stopword markers present in the corpus vocabulary. */
  private val stopwords = Seq("the", "a", "of", "and", "in")
  private val stopSql = stopwords.map(w => s"'$w'").mkString("[", ",", "]")

  /** Corpus term frequency — top terms with deterministic tiebreak. */
  val textTokensTf: Q = (spark, dir) =>
    Tables
      .documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(100)

  val textLangStats: Q = (spark, dir) =>
    Tables
      .documents(spark, dir)
      .withColumn("n_tok", size(split(col("text"), " ")))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        round(avg("n_chars"), 4).as("avg_chars"),
        round(avg("n_tok"), 4).as("avg_tok"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars")
      )
      .orderBy("lang")

  /** Per-document quality features: token stats, stopword ratio, and
    * a deterministic composite score. */
  val textQuality: Q = (spark, dir) =>
    Tables
      .documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tok", size(col("toks")))
      .withColumn(
        "n_alpha",
        length(regexp_replace(col("text"), "[^a-z]", ""))
      )
      .withColumn(
        "n_stop",
        size(filter(col("toks"), t => t.isin(stopwords: _*)))
      )
      .withColumn("avg_tok_len", round(col("n_alpha") / col("n_tok"), 4))
      .withColumn("stop_ratio", round(col("n_stop") / col("n_tok"), 4))
      // composite from the ROUNDED features at 6dp: the exact value then
      // sits on the rounding grid, so no cross-engine half-way boundary
      // exists (raw ratios at 4dp landed exactly on .00005 at sf0.1)
      .withColumn(
        "quality",
        round(
          lit(0.5) * col("stop_ratio") +
            lit(0.5) * least(col("avg_tok_len") / 10.0, lit(1.0)),
          6
        )
      )
      .select(
        col("doc_id"),
        col("n_tok"),
        col("n_alpha"),
        col("n_stop"),
        col("avg_tok_len"),
        col("stop_ratio"),
        col("quality")
      )
      .orderBy("doc_id")

  /** n-gram-free language-ID heuristic: marker-token ratio. The corpus
    * is ASCII word soup, so this is a demonstration of the operator
    * shape (deterministic scoring + argmax classification), not a
    * real model. */
  val textLangId: Q = (spark, dir) =>
    Tables
      .documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn(
        "n_marker",
        size(filter(col("toks"), t => t.isin("the", "a")))
      )
      .select(
        col("doc_id"),
        col("lang"),
        round(col("n_marker") / size(col("toks")), 4).as("en_ratio"),
        when(col("n_marker") / size(col("toks")) >= 0.05, "en")
          .otherwise("und")
          .as("pred_lang")
      )
      .orderBy("doc_id")

  /** Polynomial rolling hash over character codes (mod 1e9+7) — a
    * document fingerprint computed as a left fold, O(n) per doc and
    * embarrassingly parallel across docs. */
  val textFingerprint: Q = (spark, dir) =>
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        aggregate(
          transform(split(col("text"), ""), c => ascii(c).cast("long")),
          lit(0L),
          (h, c) => (h * 31 + c) % 1000000007L
        ).as("fp"),
        greatest(size(split(col("text"), " ")) - 2, lit(0)).as("n_shingles")
      )
      .orderBy("doc_id")

  /** [[textFingerprint]] through the fused `poly_hash` codegen
    * Expression (graft.functions.PolyHash): bit-identical fold, but the
    * HOF idiom's one-UTF8String-per-character array never materializes —
    * a single register loop inside whole-stage codegen, which is what
    * matters when documents are megabytes. Shares the brute twin's
    * oracle. */
  val textFingerprintFast: Q = (spark, dir) => {
    graft.functions.GraftFunctions.register(spark)
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        expr("poly_hash(text)").as("fp"),
        greatest(size(split(col("text"), " ")) - 2, lit(0)).as("n_shingles")
      )
      .orderBy("doc_id")
  }

  /** Token counting two ways: whitespace tokens and a BPE-ish regex
    * lexer ([a-z]+ word pieces | digit runs | any other non-space
    * glyph) — the pretokenization shape LLM pipelines budget with. */
  val textTokenCount: Q = (spark, dir) =>
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).as("n_ws_tok"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
          .as("n_bpe_tok"),
        size(array_distinct(split(col("text"), " "))).as("n_uniq_tok")
      )
      .orderBy("doc_id")

  /** Overlapping word-window chunking — the unit a RAG / embedding
    * pipeline slices documents into: 32-word windows on a 24-word
    * stride (25% overlap so no span straddles a boundary unseen).
    * mm_chunk is the fixed-BYTE twin; this one respects token
    * boundaries. One split + one posexplode — map-side at any scale,
    * output ~size/stride rows per doc. */
  val textChunkWords: Q = (spark, dir) =>
    Tables
      .documents(spark, dir)
      .withColumn("ts", split(col("text"), " "))
      .select(
        col("doc_id"),
        posexplode(
          expr(
            "transform(sequence(0, greatest(size(ts)-1, 0), 24)," +
              " i -> concat_ws(' ', slice(ts, i+1, 32)))"
          )
        )
      )
      .withColumn("nw", size(split(col("col"), " ")))
      .select(
        col("doc_id"),
        col("pos").as("chunk_id"),
        col("col").as("chunk"),
        col("nw").as("n_words")
      )
      .orderBy("doc_id", "chunk_id")

  private val textChunkWordsSql =
    """SELECT doc_id, CAST(i // 24 AS INT) AS chunk_id,
      | array_to_string(ts[i+1 : i+32], ' ') AS chunk,
      | CAST(len(ts[i+1 : i+32]) AS INT) AS n_words
      |FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents) t,
      | unnest(range(0, len(ts), 24)) AS u(i)
      |ORDER BY doc_id, chunk_id""".stripMargin

  /** Text normalization: lowercase, strip non-alphanumerics, collapse
    * whitespace — the canonicalization pass that precedes shingling/
    * fingerprinting in a dedup pipeline. Pure codegen'd expressions. */
  val textNormalize: Q = (spark, dir) =>
    Tables
      .documents(spark, dir)
      .withColumn(
        "norm",
        regexp_replace(
          trim(regexp_replace(lower(col("text")), "[^a-z0-9 ]", " ")),
          " +",
          " "
        )
      )
      .select(
        col("doc_id"),
        col("norm"),
        length(col("text")).as("n_raw"),
        length(col("norm")).as("n_norm")
      )
      .orderBy("doc_id")

  /** URL parsing — provenance extraction, a standard training-data
    * pipeline column. URLs are synthesized deterministically from the
    * corpus so the op is oracle-checkable; Spark's parse_url is
    * re-expressed as regexes in DuckDB. */
  val textUrlParse: Q = (spark, dir) =>
    Tables
      .documents(spark, dir)
      .withColumn(
        "url",
        concat(
          lit("https://ex"), col("doc_id") % 7, lit(".org/"), col("lang"),
          lit("/d"), col("doc_id"), lit("?q="), col("n_chars")
        )
      )
      .select(
        col("doc_id"),
        col("url"),
        expr("parse_url(url, 'PROTOCOL')").as("proto"),
        expr("parse_url(url, 'HOST')").as("host"),
        expr("parse_url(url, 'PATH')").as("path"),
        expr("parse_url(url, 'QUERY')").as("query")
      )
      .orderBy("doc_id")

  /** TF-IDF top-3 terms per document. df/tf are integers and the
    * score is tf·ln(N/df) — identical float math on both engines, with
    * the term as rank tiebreak (scores tie widely when df = N). */
  val textTfidf: Q = (spark, dir) => {
    val tok = Tables
      .documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val tf = tok.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val df = tok.groupBy("w").agg(countDistinct("doc_id").as("df"))
    // N as a broadcast single-row aggregate — no eager driver-side
    // count() at plan-build time (that would be an extra full corpus
    // pass per invocation before the action even runs).
    val nDocs = Tables
      .documents(spark, dir)
      .agg(count(lit(1)).cast("double").as("n_total"))
    // tf⋈df is a SHUFFLE join on purpose: `df` has one row per distinct
    // token in the corpus, which at 100 TB (typos, IDs, hashes) is
    // billions of rows — a broadcast here OOMs the driver. Both sides
    // derive from the same tokenization and key on `w`, so the shuffle
    // co-partitions naturally. Only the single-row `nDocs` aggregate is
    // broadcast. Plan pin: PlanShapeSpec "text_tfidf tf⋈df join is NOT
    // broadcast".
    val scored = tf
      .join(df, "w")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", col("tf") * log(col("n_total") / col("df")))
    import org.apache.spark.sql.expressions.Window
    scored
      .withColumn(
        "rn",
        row_number().over(
          Window.partitionBy("doc_id").orderBy(col("score").desc, col("w"))
        )
      )
      .filter(col("rn") <= 3)
      .select(
        col("doc_id"),
        col("w"),
        col("tf"),
        col("df"),
        round(col("score"), 6).as("tfidf"),
        col("rn")
      )
      .orderBy("doc_id", "rn")
  }

  /** PII scrub: emails and phone numbers replaced with typed
    * placeholders, plus per-doc redaction counts. The corpus is
    * synthetic, so deterministic PII is first INJECTED (address and
    * phone derived from doc_id), then redacted — the regex pass is
    * exercised end-to-end and the oracle checks both the counts and the
    * redacted text. Pure codegen'd regexp expressions, one projection,
    * trivially parallel at any corpus size. */
  val textPiiRedact: Q = (spark, dir) => {
    val email = "[a-zA-Z0-9_.]+@[a-zA-Z0-9.]+"
    val phone = "\\+1-555-[0-9]{4}"
    Tables
      .documents(spark, dir)
      .withColumn(
        "text2",
        concat(
          col("text"),
          lit(" contact user"),
          col("doc_id").cast("string"),
          lit("@mail.example or call +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")
        )
      )
      .select(
        col("doc_id"),
        expr(s"regexp_count(text2, '$email')").as("n_emails"),
        expr(s"regexp_count(text2, '\\\\+1-555-[0-9]{4}')").as("n_phones"),
        regexp_replace(
          regexp_replace(col("text2"), email, "<EMAIL>"),
          phone,
          "<PHONE>"
        ).as("redacted")
      )
      .orderBy("doc_id")
  }

  private val textPiiRedactSql =
    """SELECT doc_id,
      | len(regexp_extract_all(text2, '[a-zA-Z0-9_.]+@[a-zA-Z0-9.]+')) AS n_emails,
      | len(regexp_extract_all(text2, '\+1-555-[0-9]{4}')) AS n_phones,
      | regexp_replace(regexp_replace(text2,
      |   '[a-zA-Z0-9_.]+@[a-zA-Z0-9.]+', '<EMAIL>', 'g'),
      |   '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS redacted
      |FROM (
      |  SELECT doc_id,
      |   text || ' contact user' || doc_id || '@mail.example or call +1-555-'
      |        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text2
      |  FROM documents) t
      |ORDER BY doc_id""".stripMargin

  /** Character-bigram language-model score — the perplexity-style
    * quality filter of a training-data pipeline, self-trained on the
    * corpus: global bigram frequencies become the model (a broadcast
    * join — the model is small however large the corpus), each doc
    * scores avg log P(bigram). Lower = more surprising text. ln can
    * differ by 1 ulp across libm implementations and float sums are
    * order-dependent, so the avg is rounded to 6dp (verified stable at
    * all three SFs). */
  val textBigramScore: Q = (spark, dir) => {
    graft.functions.GraftFunctions.register(spark)
    // bigram_tf (native, graft.functions.BigramTf) folds the whole
    // per-doc bigram count into one O(len) row-local pass: the corpus
    // never explodes to one row per character, and the (doc_id, b)
    // shuffle the old explode+groupBy needed disappears — tf rows leave
    // the scan already aggregated (one per DISTINCT bigram per doc).
    val tf = Tables
      .documents(spark, dir)
      .filter(length(col("text")) >= 2)
      .select(col("doc_id"), explode(expr("bigram_tf(text)")))
      .toDF("doc_id", "b", "tf")
    val model = tf.groupBy("b").agg(sum("tf").as("cnt"))
    val total = model.agg(sum("cnt").cast("double").as("n_total"))
    tf.join(broadcast(model), "b")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(
        sum("tf").cast("bigint").as("n_bigrams"),
        round(
          sum(col("tf") * log(col("cnt") / col("n_total"))) / sum("tf"),
          6
        ).as("lm_score")
      )
      .orderBy("doc_id")
  }

  private val textBigramScoreSql =
    """WITH bg AS (
      |  SELECT doc_id, substring(text, i, 2) AS b
      |  FROM documents, unnest(range(1, len(text))) AS u(i)
      |  WHERE len(text) >= 2),
      |tf AS (SELECT doc_id, b, count(*) AS tf FROM bg GROUP BY 1, 2),
      |model AS (SELECT b, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY b),
      |total AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_total FROM model)
      |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
      | round(sum(tf * ln(cnt / n_total)) / sum(tf), 6) AS lm_score
      |FROM tf JOIN model USING (b), total
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Corpus-wide most frequent word-3-grams — the boilerplate-span
    * detector an LLM-data pipeline runs before dedup (headers, cookie
    * banners, license blurbs show up as high-document-frequency
    * n-grams). One explode + one hash aggregate; `df` counts documents
    * (the boilerplate signal), `tf` total occurrences. Top-50 by df
    * with a full deterministic tiebreak — at 100 TB this is a
    * TakeOrderedAndProject heap over the aggregate, never a global
    * sort of the n-gram universe. */
  val textTopNgrams: Q = (spark, dir) =>
    Tables
      .documents(spark, dir)
      .withColumn("ts", split(col("text"), " "))
      .filter(size(col("ts")) >= 3)
      .select(
        col("doc_id"),
        explode(
          expr(
            "transform(sequence(0, size(ts)-3)," +
              " i -> concat_ws(' ', ts[i], ts[i+1], ts[i+2]))"
          )
        ).as("ngram")
      )
      .groupBy("ngram")
      .agg(countDistinct("doc_id").as("df"), count(lit(1)).as("tf"))
      .orderBy(col("df").desc, col("tf").desc, col("ngram"))
      .limit(50)

  /** Within-document repetition signals (the Gopher/RefinedWeb
    * repetitious-text gate): over each document's word-2-gram
    * OCCURRENCES (not the distinct set), the fraction covered by
    * 2-grams that repeat within the doc (`dup_frac`) and by the single
    * most frequent 2-gram (`top_frac`). Templated/spun text scores
    * high on dup_frac, keyword-stuffed text on top_frac; both are
    * admission-gate features upstream of dedup. One explode + two
    * keyed aggregates, all keyed on doc_id — embarrassingly parallel,
    * no corpus-wide state at any scale. Ratios are exact rationals of
    * per-doc counts, so rounding is engine-stable. */
  val textRepetition: Q = (spark, dir) =>
    Tables
      .documents(spark, dir)
      .withColumn("ts", split(col("text"), " "))
      .filter(size(col("ts")) >= 2)
      .select(
        col("doc_id"),
        explode(
          expr("transform(sequence(0, size(ts)-2), i -> concat_ws(' ', ts[i], ts[i+1]))")
        ).as("g")
      )
      .groupBy("doc_id", "g")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum("c").as("n_grams"),
        round(
          sum(when(col("c") > 1, col("c")).otherwise(lit(0L))) / sum("c"),
          6
        ).as("dup_frac"),
        round(max("c") / sum("c"), 6).as("top_frac")
      )
      .orderBy("doc_id")

  private val textRepetitionSql =
    """WITH tok AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents
      |        WHERE len(string_split(text,' ')) >= 2),
      |g AS (SELECT doc_id, ts[i] || ' ' || ts[i+1] AS g
      |      FROM tok, unnest(range(1, len(ts))) AS u(i)),
      |c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2)
      |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
      | round(sum(CASE WHEN c > 1 THEN c ELSE 0 END)*1.0 / sum(c), 6) AS dup_frac,
      | round(max(c)*1.0 / sum(c), 6) AS top_frac
      |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Vocabulary-richness profile: type-token ratio and hapax-legomena
    * ratio per document. Low TTR is the complementary repetition
    * signal to [[textRepetition]] (repeated WORDS rather than repeated
    * spans); a high hapax ratio flags gibberish/ID-heavy text. Same
    * doc_id-keyed two-aggregate shape. */
  val textHapax: Q = (spark, dir) =>
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id", "w")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum("c").as("n_tok"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
        round(count(lit(1)) / sum("c"), 6).as("ttr"),
        round(
          sum(when(col("c") === 1, 1L).otherwise(0L)) / count(lit(1)),
          6
        ).as("hapax_ratio")
      )
      .orderBy("doc_id")

  private val textHapaxSql =
    """WITH c AS (SELECT doc_id, w, count(*) AS c
      |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents) t
      |  GROUP BY 1, 2)
      |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
      | CAST(count(*) AS BIGINT) AS n_types,
      | CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
      | round(count(*)*1.0 / sum(c), 6) AS ttr,
      | round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)*1.0 / count(*), 6) AS hapax_ratio
      |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val textTopNgramsSql =
    """WITH tok AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents
      |        WHERE len(string_split(text,' ')) >= 3),
      |ng AS (SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS ngram
      |       FROM tok, unnest(range(1, len(ts)-1)) AS u(i))
      |SELECT ngram, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
      |       CAST(count(*) AS BIGINT) AS tf
      |FROM ng GROUP BY 1
      |ORDER BY df DESC, tf DESC, ngram LIMIT 50""".stripMargin

  /** Corpus admission gate — the C4/RefinedWeb-style filter CHAIN
    * composed from this module's own primitives, per doc in one pass:
    * language gate (the en-marker heuristic of text_lang_id), quality
    * gate (text_quality's composite ≥ 0.25, i.e. the corpus median),
    * and an exact-dedup gate (first doc_id per md5 keeps). Emitting
    * per-stage booleans rather than a filtered corpus is deliberate:
    * at 100 TB you audit WHY documents die (per-gate kill rates) before
    * materializing the survivors, and the admitted flag is then a
    * single conjunction. The only shuffle is the md5 window — the
    * scoring gates are row-local expression work. */
  val etlCorpusFilter: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    val firstByHash = Window.partitionBy(md5(col("text"))).orderBy("doc_id")
    Tables
      .documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tok", size(col("toks")))
      .withColumn("n_alpha", length(regexp_replace(col("text"), "[^a-z]", "")))
      .withColumn("n_stop", size(filter(col("toks"), t => t.isin(stopwords: _*))))
      .withColumn("avg_tok_len", round(col("n_alpha") / col("n_tok"), 4))
      .withColumn("stop_ratio", round(col("n_stop") / col("n_tok"), 4))
      .withColumn(
        "quality",
        round(
          lit(0.5) * col("stop_ratio") +
            lit(0.5) * least(col("avg_tok_len") / 10.0, lit(1.0)),
          6
        )
      )
      .withColumn(
        "n_marker",
        size(filter(col("toks"), t => t.isin("the", "a")))
      )
      .withColumn("pass_lang", col("n_marker") / col("n_tok") >= 0.05)
      .withColumn("pass_quality", col("quality") >= 0.25)
      .withColumn("pass_dedup", row_number().over(firstByHash) === 1)
      .withColumn(
        "admitted",
        col("pass_lang") && col("pass_quality") && col("pass_dedup")
      )
      .select(
        col("doc_id"),
        col("quality"),
        col("pass_lang"),
        col("pass_quality"),
        col("pass_dedup"),
        col("admitted")
      )
      .orderBy("doc_id")
  }

  private val etlCorpusFilterSql =
    s"""WITH f AS (
       |  SELECT doc_id, text, len(string_split(text,' ')) AS n_tok,
       |   length(regexp_replace(text,'[^a-z]','','g')) AS n_alpha,
       |   len(list_filter(string_split(text,' '), t -> list_contains($stopSql, t))) AS n_stop,
       |   len(list_filter(string_split(text,' '), t -> list_contains(['the','a'], t))) AS n_marker
       |  FROM documents),
       |g AS (
       |  SELECT doc_id,
       |   round(0.5*round(n_stop*1.0/n_tok,4)
       |         + 0.5*least(round(n_alpha*1.0/n_tok,4)/10.0, 1.0), 6) AS quality,
       |   n_marker*1.0/n_tok >= 0.05 AS pass_lang,
       |   row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1 AS pass_dedup
       |  FROM f)
       |SELECT doc_id, quality, pass_lang,
       | quality >= 0.25 AS pass_quality, pass_dedup,
       | pass_lang AND quality >= 0.25 AND pass_dedup AS admitted
       |FROM g ORDER BY doc_id""".stripMargin

  /** Corpus-level boilerplate removal — the pipeline step between
    * exact dedup and near-dedup: 3-gram spans occurring in more than
    * 5 DISTINCT documents (the StopDf operating point the LSH family
    * shares) are template text, and every token covered by any
    * occurrence of a hot span is stripped. Emits per doc the token
    * count, stripped-token count, boilerplate ratio, and the cleaned
    * text reassembled from the surviving tokens in position order.
    *
    * Scale shape: the hot-span set is by definition small relative to
    * the corpus (template headers/footers/license blocks), so it
    * broadcasts — coverage is then a map-side semi-join of each doc's
    * gram stream against the broadcast set plus a per-doc distinct;
    * the only full shuffle is the final doc_id aggregate, exactly one
    * row per doc. No window functions, no self-joins: at 100 TB the
    * cost is two corpus scans (gram frequency, strip pass). */
  val textBoilerplateRm: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
    val tok = docs.select(
      col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "w"))
    )
    val grams = docs
      .withColumn("ts", split(col("text"), " "))
      .filter(size(col("ts")) >= 3)
      .select(
        col("doc_id"),
        posexplode(
          expr(
            "transform(sequence(0, size(ts)-3)," +
              " i -> concat_ws(' ', ts[i], ts[i+1], ts[i+2]))"
          )
        ).as(Seq("p", "s"))
      )
    val hot = grams
      .select("doc_id", "s")
      .distinct()
      .groupBy("s")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > 5)
      .select("s")
    val cov = grams
      // no broadcast hint: the hot set (3-gram spans with df > 5) grows
      // with the corpus — common phrases keep qualifying as data grows —
      // so an unconditional hint is the same 100 TB OOM as the tfidf
      // vocabulary broadcast was. Size-gated selection instead: the
      // static planner or AQE broadcasts when the set is actually small
      // (plan-pinned both ways in PlanShapeSpec).
      .join(hot, "s")
      .select(col("doc_id"), explode(sequence(col("p"), col("p") + 2)).as("pos"))
      .distinct()
    tok
      .join(cov.withColumn("c", lit(1)), Seq("doc_id", "pos"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tok"),
        count(col("c")).as("n_boiler"),
        round(count(col("c")) / count(lit(1)).cast("double"), 4)
          .as("boiler_ratio"),
        concat_ws(
          " ",
          expr(
            "transform(sort_array(collect_list(" +
              "CASE WHEN c IS NULL THEN struct(pos, w) END)), x -> x.w)"
          )
        ).as("cleaned")
      )
      .orderBy("doc_id")
  }

  /** The staged inverted-index posting table: distinct (term, doc_id)
    * pairs, RANGE-repartitioned and sorted by term so each parquet
    * file owns a contiguous term slice with tight footer min/max — a
    * keyword query's `term IN (...)` probe prunes to the files owning
    * those terms instead of scanning the index (the sharded-postings
    * layout of a search engine, expressed as plain stats-prunable
    * parquet). Fingerprint-cached via [[graft.Stage.table]] like the
    * dedup shingle tables: built once per corpus state, served to
    * both index keys. */
  private def postingTable(
      spark: org.apache.spark.sql.SparkSession, dir: String) =
    graft.Stage.table(spark, dir, "inv_postings", Seq("documents"))(
      Tables
        .documents(spark, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .distinct()
        .repartitionByRange(col("term"))
        .sortWithinPartitions("term", "doc_id"))

  /** Inverted-index BUILD (round 12): the dictionary view of the
    * posting table — per-term document frequency plus a posting-list
    * checksum (sum/min/max of doc ids), so the oracle hash proves the
    * postings themselves, not just the term set. One shuffle on term
    * at any scale; the staged table persists for serving. */
  val textIndexBuild: Q = (spark, dir) =>
    postingTable(spark, dir)
      .groupBy("term")
      .agg(
        count(lit(1)).as("df"),
        sum("doc_id").as("doc_sum"),
        min("doc_id").as("min_doc"),
        max("doc_id").as("max_doc"))
      .orderBy(col("df").desc, col("term"))
      .limit(200)

  /** Inverted-index SEARCH (round 12): a conjunctive (AND) keyword
    * query answered FROM THE INDEX — posting rows for the query terms
    * only (the `term IN` probe prunes the range-sharded files), doc
    * ids intersected by counting matched terms per doc, then joined
    * back to the corpus for the result rows. Never scans document
    * text at query time: at 100 TB the query cost is O(posting rows
    * of the query terms) + the id join, the inverted-index contract.
    * The query is data-derived and deterministic — the terms ranked
    * 10/20/30 by (df desc, term), picked via a distributed
    * orderBy-limit (no global window), so the key exercises mid-df
    * terms at every SF; the oracle recomputes term choice AND
    * matching docs from the raw text. */
  val textIndexSearch: Q = (spark, dir) => {
    val post = postingTable(spark, dir)
    val top = post
      .groupBy("term")
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term"))
      .limit(30)
      .collect()
    val qterms = Seq(top(9), top(19), top(29)).map(_.getString(0))
    val hits = post
      .filter(col("term").isin(qterms: _*))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nt"))
      .filter(col("nt") === qterms.size)
    Tables
      .documents(spark, dir)
      .join(hits, "doc_id")
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
  }

  /** Incremental inverted-index REFRESH (round 13; round 14 adds the
    * DELETE path): the index is a SNAPSHOT TABLE of (term, doc_id)
    * postings over a snapshot-table corpus, and a refresh tokenizes
    * ONLY `readChanges(from, to)` of the corpus — on a 100 TB
    * append-mostly training corpus, indexing a 10 GB drop costs 10 GB
    * of tokenization plus an append, never a rebuild. The
    * folded-through version rides the index commit's own HEADER
    * (an `idxv=` token, read back by
    * [[graft.sources.SnapshotLog.committedWatermark]]), so a crash
    * between commit and any bookkeeping cannot re-append the same
    * delta's postings (duplicate (term,doc) pairs would break
    * conjunctive counting). A DELETE-bearing delta no longer refuses:
    * the change feed carries the deleted rows' OLD TEXT, so the dead
    * (term, doc) pairs are derivable, and the refresh rewrites ONLY
    * the term shards whose stats admit a dead term — the
    * sql_mv_minmax group-scoped pattern through [[graft.sources
    * .SnapshotLog.mergeCoW]], with the fresh postings unioned into
    * the SAME atomic commit so the watermark, the removals, and the
    * additions land together (no replay window). Untouched shards
    * carry by reference, byte-identical. The graded flow: index half
    * the corpus, append the rest, refresh (pure fold), CoW-DELETE
    * every doc_id % 7 == 3, refresh again (scoped rebuild, pinned
    * inline to carry untouched shards), then the deterministic 3-term
    * conjunctive search; the oracle recomputes term choice AND
    * matches from the SURVIVING corpus text, so a stale index, a
    * double-applied delta, or a leftover dead posting all break the
    * hash. */
  val textIndexRefresh: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val src = s"${sys.props("java.io.tmpdir")}/graft_io/docs_idxinc_src"
    val idx = s"${sys.props("java.io.tmpdir")}/graft_io/docs_idxinc_postings"
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(src), true)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    val docs = Tables
      .documents(spark, dir)
      .select("doc_id", "text", "lang", "n_chars")
    val maxId = Tables.maxLong(spark, dir, "documents", "doc_id")
    val half = maxId / 2
    def postings(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .distinct()
        .repartitionByRange(col("term"))
        .sortWithinPartitions("term", "doc_id")
    // one refresh cycle: fold inserts; delete-bearing deltas rebuild
    // ONLY the affected term shards (one atomic commit either way)
    def refresh(): Unit = {
      val from = SnapshotLog.committedWatermark(spark, idx, "idxv").getOrElse(
        throw new IllegalStateException("index has no idxv watermark"))
      val to = SnapshotLog.versions(spark, src).last
      if (to == from) return
      val changes = SnapshotLog.readChanges(spark, src, from, to)
      val ins = changes.filter(col("change_type") === "insert")
        .select("doc_id", "text")
      val dels = changes.filter(col("change_type") === "delete")
        .select("doc_id", "text")
      if (dels.isEmpty) {
        SnapshotLog.commit(spark, idx, SnapshotLog.CommitRequest(SnapshotLog.CommitData.Frame(postings(ins)), header = Seq(s"idxv=$to")))
      } else {
        // dead pairs from the delta's OLD rows: every posting of a
        // delete-side doc lives in a shard whose term range admits one
        // of its terms, so the scope below provably covers them all
        // (a CoW-rewritten survivor appears on both sides — its old
        // pairs remove, its re-inserted pairs re-add, net identical).
        // Materialized ONCE: the scope probe and the rebuild's
        // anti-join both consume it, and re-tokenizing the delete
        // delta per consumer doubles the delta cost at any scale
        val dead = postings(dels).localCheckpoint()
        val (_, touched, untouched) = SnapshotLog.mergeCoW(
          spark, idx, "term",
          dead.select("term").distinct(),
          base =>
            base.join(dead, Seq("doc_id", "term"), "left_anti")
              .unionByName(postings(ins))
              .repartitionByRange(col("term"))
              .sortWithinPartitions("term", "doc_id"),
          extraHeader = s"idxv=$to")
        // natural-language docs share vocabulary, so dead terms may
        // admit most shards here — the SCOPING guarantee (shards no
        // dead term admits carry by reference, byte-identical) is
        // pinned in SnapshotSpec with disjoint vocabularies; inline we
        // pin that whatever WAS untouched carried by name
        val live = SnapshotLog
          .manifest(spark, idx, SnapshotLog.versions(spark, idx).last).toSet
        require(
          untouched.forall(live),
          "untouched shards must survive into the new manifest by reference")
        require(touched.nonEmpty, "a delete delta must rewrite its shards")
      }
    }
    SnapshotLog.commit(spark, src, docs.filter(col("doc_id") <= half))
    val v1 = SnapshotLog.versions(spark, src).last
    SnapshotLog.commit(
      spark, idx,
      SnapshotLog.CommitRequest(SnapshotLog.CommitData.Frame(postings(SnapshotLog.read(spark, src))), header = Seq(s"idxv=$v1")))
    // the corpus grows behind the index's back → pure insert fold
    SnapshotLog.commit(spark, src, docs.filter(col("doc_id") > half))
    refresh()
    // a CoW DELETE scatters dead postings across term shards → the
    // refresh rewrites only the shards the dead terms admit
    SnapshotLog.mergeCoW(
      spark, src, "doc_id",
      docs.filter(col("doc_id") % 7 === 3).select("doc_id"),
      base => base.filter(col("doc_id") % 7 =!= 3))
    refresh()
    val to = SnapshotLog.versions(spark, src).last
    val vAfter = SnapshotLog.versions(spark, idx).last
    require(
      SnapshotLog.committedWatermark(spark, idx, "idxv").contains(to) &&
        vAfter == 3,
      s"refresh bookkeeping wrong: wm=${SnapshotLog.committedWatermark(spark, idx, "idxv")} v=$vAfter")
    // the same deterministic conjunctive search as text_index_search,
    // served from the REFRESHED index — dead docs must be gone
    val post = SnapshotLog.read(spark, idx)
    val top = post
      .groupBy("term")
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term"))
      .limit(30)
      .collect()
    val qterms = Seq(top(9), top(19), top(29)).map(_.getString(0))
    val hits = post
      .filter(col("term").isin(qterms: _*))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nt"))
      .filter(col("nt") === qterms.size)
    docs.join(hits, "doc_id").select("doc_id", "lang", "n_chars").orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    "text_index_build" -> textIndexBuild,
    "text_index_search" -> textIndexSearch,
    "text_index_refresh" -> textIndexRefresh,
    "etl_corpus_filter" -> etlCorpusFilter,
    "text_repetition" -> textRepetition,
    "text_boilerplate_rm" -> textBoilerplateRm,
    "text_hapax" -> textHapax,
    "text_top_ngrams" -> textTopNgrams,
    "text_pii_redact" -> textPiiRedact,
    "text_bigram_score" -> textBigramScore,
    "text_url_parse" -> textUrlParse,
    "text_normalize" -> textNormalize,
    "text_chunk_words" -> textChunkWords,
    "text_tfidf" -> textTfidf,
    "text_token_count" -> textTokenCount,
    "text_tokens_tf" -> textTokensTf,
    "text_lang_stats" -> textLangStats,
    "text_quality" -> textQuality,
    "text_lang_id" -> textLangId,
    "text_fingerprint" -> textFingerprint,
    "text_fingerprint_fast" -> textFingerprintFast
  )

  val oracles: Map[String, String] = Map(
    // the posting-list checksums (sum/min/max of doc ids per term)
    // gate the postings themselves, not just the dictionary
    "text_index_build" ->
      """WITH post AS (
        |  SELECT DISTINCT doc_id, term FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM documents))
        |SELECT term, count(*) AS df,
        |  CAST(sum(doc_id) AS BIGINT) AS doc_sum,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM post GROUP BY term
        |ORDER BY df DESC, term LIMIT 200""".stripMargin,
    // recomputes BOTH the data-derived term choice (ranks 10/20/30 by
    // df desc, term) and the conjunctive match from the raw text
    "text_index_search" ->
      """WITH post AS (
        |  SELECT DISTINCT doc_id, term FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM documents)),
        |tf AS (SELECT term, count(*) AS df FROM post GROUP BY term),
        |ranked AS (
        |  SELECT term, row_number() OVER (ORDER BY df DESC, term) AS rn
        |  FROM tf),
        |q AS (SELECT term FROM ranked WHERE rn IN (10, 20, 30)),
        |hits AS (
        |  SELECT p.doc_id FROM post p JOIN q USING (term)
        |  GROUP BY p.doc_id HAVING count(*) = 3)
        |SELECT d.doc_id, d.lang, d.n_chars
        |FROM documents d JOIN hits USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // the refreshed index must answer exactly as a from-scratch index
    // of the SURVIVING corpus (doc_id % 7 == 3 was CoW-deleted) — a
    // stale index, a double-applied delta (duplicate postings inflate
    // the conjunctive count), or a leftover dead posting all break
    "text_index_refresh" ->
      """WITH live AS (SELECT * FROM documents WHERE doc_id % 7 <> 3),
        |post AS (
        |  SELECT DISTINCT doc_id, term FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM live)),
        |tf AS (SELECT term, count(*) AS df FROM post GROUP BY term),
        |ranked AS (
        |  SELECT term, row_number() OVER (ORDER BY df DESC, term) AS rn
        |  FROM tf),
        |q AS (SELECT term FROM ranked WHERE rn IN (10, 20, 30)),
        |hits AS (
        |  SELECT p.doc_id FROM post p JOIN q USING (term)
        |  GROUP BY p.doc_id HAVING count(*) = 3)
        |SELECT d.doc_id, d.lang, d.n_chars
        |FROM live d JOIN hits USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "etl_corpus_filter" -> etlCorpusFilterSql,
    "text_repetition" -> textRepetitionSql,
    "text_boilerplate_rm" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts
        |  FROM documents),
        |p AS (SELECT doc_id, i, ts[i] AS w
        |  FROM tok, unnest(range(1, len(ts)+1)) AS u(i)),
        |g AS (SELECT doc_id, i, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
        |  FROM tok, unnest(range(1, len(ts)-1)) AS u(i)),
        |hot AS (SELECT s FROM (SELECT DISTINCT doc_id, s FROM g)
        |  GROUP BY s HAVING count(*) > 5),
        |cov AS (SELECT DISTINCT g.doc_id, g.i + d AS i
        |  FROM g JOIN hot USING (s), unnest(range(0, 3)) AS u(d)),
        |f AS (SELECT p.doc_id, p.i, p.w, cov.i IS NOT NULL AS covered
        |  FROM p LEFT JOIN cov ON p.doc_id = cov.doc_id AND p.i = cov.i)
        |SELECT doc_id, count(*) AS n_tok,
        |  count(CASE WHEN covered THEN 1 END) AS n_boiler,
        |  round(count(CASE WHEN covered THEN 1 END) * 1.0 / count(*), 4)
        |    AS boiler_ratio,
        |  coalesce(string_agg(CASE WHEN NOT covered THEN w END, ' '
        |    ORDER BY i), '') AS cleaned
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_hapax" -> textHapaxSql,
    "text_top_ngrams" -> textTopNgramsSql,
    "text_pii_redact" -> textPiiRedactSql,
    "text_bigram_score" -> textBigramScoreSql,
    "text_url_parse" ->
      """SELECT doc_id, url,
        | regexp_extract(url, '^([a-z]+):', 1) AS proto,
        | regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
        | regexp_extract(url, '^[a-z]+://[^/]+(/[^?#]*)', 1) AS path,
        | regexp_extract(url, '\?([^#]*)', 1) AS query
        |FROM (
        |  SELECT doc_id,
        |   'https://ex' || (doc_id % 7) || '.org/' || lang || '/d' || doc_id
        |     || '?q=' || n_chars AS url
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin,
    "text_chunk_words" -> textChunkWordsSql,
    "text_normalize" ->
      """SELECT doc_id,
        | regexp_replace(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')),
        |                ' +', ' ', 'g') AS norm,
        | length(text) AS n_raw,
        | length(regexp_replace(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')),
        |                       ' +', ' ', 'g')) AS n_norm
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT w, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT doc_id, w, tf, df, round(score, 6) AS tfidf, rn FROM (
        |  SELECT tf.doc_id, tf.w, tf.tf, df.df,
        |   tf.tf * ln(n.n * 1.0 / df.df) AS score,
        |   row_number() OVER (PARTITION BY tf.doc_id
        |     ORDER BY tf.tf * ln(n.n * 1.0 / df.df) DESC, tf.w) AS rn
        |  FROM tf JOIN df USING (w) CROSS JOIN n) t
        |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,
    "text_token_count" ->
      """SELECT doc_id,
        | len(string_split(text,' ')) AS n_ws_tok,
        | len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe_tok,
        | len(list_distinct(string_split(text,' '))) AS n_uniq_tok
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_tokens_tf" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text,' ')) AS word FROM documents) t
        |GROUP BY word ORDER BY cnt DESC, word LIMIT 100""".stripMargin,
    "text_lang_stats" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | round(avg(n_chars),4) AS avg_chars,
        | round(avg(len(string_split(text,' '))),4) AS avg_tok,
        | min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "text_quality" ->
      s"""SELECT doc_id, n_tok, n_alpha, n_stop, avg_tok_len, stop_ratio,
         | round(0.5*stop_ratio + 0.5*least(avg_tok_len/10.0, 1.0), 6) AS quality
         |FROM (
         |  SELECT doc_id, n_tok, n_alpha, n_stop,
         |   round(n_alpha*1.0/n_tok, 4) AS avg_tok_len,
         |   round(n_stop*1.0/n_tok, 4) AS stop_ratio
         |  FROM (
         |    SELECT doc_id, len(string_split(text,' ')) AS n_tok,
         |     length(regexp_replace(text,'[^a-z]','','g')) AS n_alpha,
         |     len(list_filter(string_split(text,' '), t -> list_contains($stopSql, t))) AS n_stop
         |    FROM documents) t) t2
         |ORDER BY doc_id""".stripMargin,
    "text_lang_id" ->
      """SELECT doc_id, lang,
        | round(n_marker*1.0/n_tok, 4) AS en_ratio,
        | CASE WHEN n_marker*1.0/n_tok >= 0.05 THEN 'en' ELSE 'und' END AS pred_lang
        |FROM (
        |  SELECT doc_id, lang, len(string_split(text,' ')) AS n_tok,
        |   len(list_filter(string_split(text,' '), t -> list_contains(['the','a'], t))) AS n_marker
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        | list_reduce(
        |   list_prepend(CAST(0 AS BIGINT),
        |     list_transform(string_split_regex(text,''), c -> CAST(unicode(c) AS BIGINT))),
        |   (a, b) -> (a*31 + b) % 1000000007) AS fp,
        | greatest(len(string_split(text,' ')) - 2, 0) AS n_shingles
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the fused-Expression twin is bit-identical — shares the oracle
    "text_fingerprint_fast" ->
      """SELECT doc_id,
        | list_reduce(
        |   list_prepend(CAST(0 AS BIGINT),
        |     list_transform(string_split_regex(text,''), c -> CAST(unicode(c) AS BIGINT))),
        |   (a, b) -> (a*31 + b) % 1000000007) AS fp,
        | greatest(len(string_split(text,' ')) - 2, 0) AS n_shingles
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
