package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.Exact._
import graft.functions.TextFns._
import graft.Tables._

/** Text-analysis + events operators — SURVEY.md §2.9 X4/X6 and the
  * training-data-pipeline extensions (language ID, quality scoring, token
  * counting, fingerprinting). All are shuffle-light: per-row expression work
  * followed by at most one aggregation.
  */
object TextQueries {

  // X4: corpus stats per language. Ratios are double divisions of exact ints,
  // deterministic across engines.
  private val textStats = Q(
    (s, d) =>
      documents(s, d)
        .select(col("lang"), col("n_chars"), size(tokens(col("text"))).as("ntok"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(col("ntok").cast("long")).as("total_tokens"),
          (sum(col("n_chars")).cast("double") / count(lit(1)).cast("double")).as("avg_chars"))
        .orderBy("lang"),
    Some("""SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
            CAST(sum(CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)) AS BIGINT) AS total_tokens,
            CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_chars
            FROM documents GROUP BY lang ORDER BY lang"""))

  // Token counting: whitespace tokens + a BPE-ish regex tokenizer.
  private val tokenCount = Q(
    (s, d) =>
      documents(s, d)
        .select(
          col("doc_id"),
          size(tokens(col("text"))).as("ws_tokens"),
          bpeishCount(col("text")).as("bpeish_tokens"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id, CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS ws_tokens,
            CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INTEGER) AS bpeish_tokens
            FROM documents ORDER BY doc_id"""))

  // Language ID: stopword-hit heuristic with a deterministic argmax ladder.
  // (The synthetic corpus is English-ish for every lang label; the operator
  // still demonstrates the n-gram/stopword scoring shape.)
  private val langId = Q(
    (s, d) => {
      val toks = tokens(col("text"))
      val en = size(filter(toks, t => t.isin("the", "a", "of", "and", "to")))
      val es = size(filter(toks, t => t.isin("el", "la", "de", "y", "que")))
      val de = size(filter(toks, t => t.isin("der", "die", "das", "und", "ist")))
      documents(s, d)
        .select(col("doc_id"), col("lang"), en.as("en_hits"), es.as("es_hits"), de.as("de_hits"))
        .withColumn("predicted",
          when(col("en_hits") >= col("es_hits") && col("en_hits") >= col("de_hits"), lit("en"))
            .when(col("es_hits") >= col("de_hits"), lit("es"))
            .otherwise(lit("de")))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, lang,
            CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> t IN ('the','a','of','and','to'))) AS INTEGER) AS en_hits,
            CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> t IN ('el','la','de','y','que'))) AS INTEGER) AS es_hits,
            CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> t IN ('der','die','das','und','ist'))) AS INTEGER) AS de_hits,
            CASE WHEN len(list_filter(string_split_regex(trim(text), '\s+'), t -> t IN ('the','a','of','and','to')))
                      >= len(list_filter(string_split_regex(trim(text), '\s+'), t -> t IN ('el','la','de','y','que')))
                  AND len(list_filter(string_split_regex(trim(text), '\s+'), t -> t IN ('the','a','of','and','to')))
                      >= len(list_filter(string_split_regex(trim(text), '\s+'), t -> t IN ('der','die','das','und','ist')))
                 THEN 'en'
                 WHEN len(list_filter(string_split_regex(trim(text), '\s+'), t -> t IN ('el','la','de','y','que')))
                      >= len(list_filter(string_split_regex(trim(text), '\s+'), t -> t IN ('der','die','das','und','ist')))
                 THEN 'es' ELSE 'de' END AS predicted
            FROM documents ORDER BY doc_id"""))

  // Quality scoring: length/punct/stopword ratios + a boolean keep-rule.
  private val textQuality = Q(
    (s, d) => {
      val toks = tokens(col("text"))
      val ntok = size(toks).cast("long")
      val punct = size(regexp_extract_all(col("text"), lit("[^a-zA-Z0-9\\s]"), lit(0))).cast("long")
      val stop = stopwordHits(toks).cast("long")
      documents(s, d)
        .select(
          col("doc_id"),
          ntok.as("n_tokens"),
          (col("n_chars").cast("double") / ntok.cast("double")).as("chars_per_token"),
          (punct.cast("double") / col("n_chars").cast("double")).as("punct_ratio"),
          (stop.cast("double") / ntok.cast("double")).as("stopword_ratio"))
        .withColumn("keep",
          col("n_tokens") >= 10L && col("n_tokens") <= 100000L && col("stopword_ratio") >= 0.01)
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, n_chars,
              CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
              CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS BIGINT) AS punct,
              CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS stop
            FROM documents)
            SELECT doc_id, n_tokens,
              CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS chars_per_token,
              CAST(punct AS DOUBLE) / CAST(n_chars AS DOUBLE) AS punct_ratio,
              CAST(stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
              (n_tokens >= 10 AND n_tokens <= 100000
               AND CAST(stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.01) AS keep
            FROM t ORDER BY doc_id"""))

  // Document fingerprint: bottom-1 sketch = min polynomial hash over 3-gram
  // shingles (winnowing-style rolling fingerprint).
  private val docFingerprint = Q(
    (s, d) =>
      DedupQueries.shingleHashRows(s, d)
        .groupBy("doc_id")
        .agg(min(col("h")).as("fingerprint"))
        .orderBy("doc_id"),
    Some(s"""${DedupQueries.shingleCtes}
            SELECT doc_id, list_min(hs) AS fingerprint FROM hs ORDER BY doc_id"""))

  // X6: tumbling 1-hour event-time window aggregation, run batch so the
  // date_trunc oracle applies. The Structured Streaming twin lives in
  // graft.streaming.EventStream (same logical aggregation + watermark).
  private val eventsWindow = Q(
    (s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
        .select(
          col("window.start").as("ws"),
          col("event_type"), col("n_events"), col("total_value"))
        .orderBy("ws", "event_type"),
    Some(s"""SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS n_events,
            ${sqlDsum("value")} AS total_value
            FROM events GROUP BY 1, 2 ORDER BY ws, event_type"""))

  // Hourly volume anomaly flags per event type: |count − μ| > 2σ over each
  // type's hourly series — the monitoring primitive an ingestion pipeline
  // runs over its own throughput. The z-test is evaluated in INTEGER
  // arithmetic: (c·n − S)² > 4·(n·Q − S²) with S = Σc, Q = Σc² is exactly
  // |c − μ| > 2σ cleared of the two divisions, so both engines compare the
  // same integers and the σ boundary cannot flip on FP rounding (magnitudes
  // ≤ (cn)² — bigint-safe for any hourly series a real pipeline has). Two
  // hash aggs (hourly, then a per-type 3-long rollup) + a broadcast-sized
  // join back: nothing event-sized shuffles twice.
  private val eventsAnomaly = Q(
    (s, d) => {
      val hourly = events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("c"))
        .select(col("window.start").as("ws"), col("event_type"), col("c"))
      val stats = hourly.groupBy("event_type").agg(
        count(lit(1)).as("n"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("q"))
      val dev = col("c") * col("n") - col("s")
      hourly.join(stats, Seq("event_type"))
        .select(col("event_type"), col("ws"), col("c"),
          (dev * dev > lit(4L) * (col("n") * col("q") - col("s") * col("s")))
            .as("is_anomaly"))
        .orderBy("event_type", "ws")
    },
    Some("""WITH h AS (SELECT date_trunc('hour', ts) AS ws, event_type,
                              CAST(count(*) AS BIGINT) AS c
                       FROM events GROUP BY 1, 2),
            st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                          CAST(sum(c) AS BIGINT) AS s,
                          CAST(sum(c*c) AS BIGINT) AS q
                   FROM h GROUP BY event_type)
            SELECT h.event_type, h.ws, h.c,
                   (h.c*st.n - st.s)*(h.c*st.n - st.s) > 4*(st.n*st.q - st.s*st.s) AS is_anomaly
            FROM h JOIN st USING (event_type)
            ORDER BY event_type, ws"""))

  // Multimodal plumbing: opaque binary payload + typed metadata derived
  // without decoding (byte length, content hash, magic-byte probe). The
  // batched decode stub lives in graft.ops.Multimodal (mapPartitions).
  private val multimodalMeta = Q(
    (s, d) => {
      val bin = col("text").cast("binary")
      documents(s, d)
        .select(
          col("doc_id"),
          octet_length(bin).as("n_bytes"),
          md5(bin).as("content_md5"),
          ascii(substring(col("text"), 1, 1)).as("magic"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
            md5(text) AS content_md5, ascii(substr(text, 1, 1)) AS magic
            FROM documents ORDER BY doc_id"""))

  // Batch sessionization via lag + gaps-and-islands (the analytic-window
  // operator family; the streaming twin is EventStream.sessionize's
  // session_window). 30-minute gap; epoch-µs integer compares only.
  private val eventsSessionize = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val cum = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d)
        .withColumn("prev_us", unix_micros(lag(col("ts"), 1).over(byUser)))
        .withColumn("new_s",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_s")).over(cum))
        .groupBy("user_id", "session_id")
        .agg(
          min(col("ts")).as("session_start"),
          count(lit(1)).as("n_events"),
          dsum(col("value")).as("total_value"))
        .select("user_id", "session_start", "n_events", "total_value")
        .orderBy("user_id", "session_start")
    },
    Some(s"""WITH flagged AS (
              SELECT user_id, event_id, ts, value,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_s
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            sessions AS (
              SELECT user_id, ts, value,
                SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
              FROM flagged)
            SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
              ${sqlDsum("value")} AS total_value
            FROM sessions GROUP BY user_id, session_id
            ORDER BY user_id, session_start"""))

  // Corpus-wide top-k bigram frequency (integer counts, total order on
  // (count desc, ngram asc) — fully deterministic). Bigram construction is a
  // native expression: the HOF form re-tokenizes per index (O(tokens²)/doc).
  private val ngramTopk = Q(
    (s, d) => {
      documents(s, d)
        .repartition(col("doc_id"))
        .select(explode(graft.expressions.Bigrams(tokens(col("text")))).as("ngram"))
        .groupBy("ngram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("ngram").asc)
        .limit(20)
    },
    Some("""SELECT ngram, count(*) AS n FROM (
              SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                       i -> t[i] || ' ' || t[i+1])) AS ngram
              FROM (SELECT string_split_regex(trim(text), '\s+') AS t FROM documents) s
              WHERE len(t) >= 2) u
            GROUP BY ngram ORDER BY n DESC, ngram ASC LIMIT 20"""))

  // Funnel analysis: users whose earliest view precedes their earliest
  // click precedes their earliest purchase (strict event-time ordering).
  // One hash aggregation with conditional mins — no joins, no windows.
  private val eventsFunnel = Q(
    (s, d) =>
      events(s, d)
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "view", col("ts"))).as("first_view"),
          min(when(col("event_type") === "click", col("ts"))).as("first_click"),
          min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"))
        .filter(col("first_view") < col("first_click") &&
          col("first_click") < col("first_purchase"))
        .orderBy("user_id"),
    Some("""SELECT user_id,
            min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
            min(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
            min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
            FROM events GROUP BY user_id
            HAVING min(CASE WHEN event_type = 'view' THEN ts END)
                 < min(CASE WHEN event_type = 'click' THEN ts END)
               AND min(CASE WHEN event_type = 'click' THEN ts END)
                 < min(CASE WHEN event_type = 'purchase' THEN ts END)
            ORDER BY user_id"""))

  // Pretraining text cleanup: strip tag-like spans, collapse whitespace,
  // trim — the canonical first pass of a corpus pipeline. Pure per-row
  // regex work, no shuffle. The whitespace class is an EXPLICIT char class,
  // not \s: Java's \s includes vertical tab \x0B while RE2's (DuckDB's)
  // does not, so \s would silently diverge on corpora containing \x0B.
  private val textClean = Q(
    (s, d) => {
      val stripped = regexp_replace(col("text"), "<[^>]*>", " ")
      val cleaned = trim(regexp_replace(stripped, "[ \\t\\n\\f\\r]+", " "))
      documents(s, d)
        .select(col("doc_id"), cleaned.as("cleaned"),
          length(cleaned).as("n_chars_clean"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
            trim(regexp_replace(regexp_replace(text, '<[^>]*>', ' ', 'g'), '[ \t\n\f\r]+', ' ', 'g')) AS cleaned,
            CAST(length(trim(regexp_replace(regexp_replace(text, '<[^>]*>', ' ', 'g'), '[ \t\n\f\r]+', ' ', 'g'))) AS INTEGER) AS n_chars_clean
            FROM documents ORDER BY doc_id"""))

  // PII masking: emails and long digit runs replaced with typed tokens,
  // with per-doc hit counts — the redaction pass every training-data
  // pipeline runs before tokenization.
  private val textPiiMask = Q(
    (s, d) => {
      val emailPat = "[\\w.+-]+@[\\w-]+\\.[\\w.]+"
      val numPat = "\\d{4,}"
      // Masking is sequential (emails first), so digit counts are taken on
      // the email-masked INTERMEDIATE: every n counted as a [NUM] hit is one
      // that actually appears masked in the output (digit runs inside email
      // local-parts are already gone). Oracle mirrors the same nesting.
      val emailMasked = regexp_replace(col("text"), emailPat, "[EMAIL]")
      val masked = regexp_replace(emailMasked, numPat, "[NUM]")
      documents(s, d)
        .select(col("doc_id"), masked.as("masked"),
          size(regexp_extract_all(col("text"), lit(emailPat), lit(0))).as("n_emails"),
          size(regexp_extract_all(emailMasked, lit(numPat), lit(0))).as("n_nums"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
            regexp_replace(regexp_replace(text, '[\w.+-]+@[\w-]+\.[\w.]+', '[EMAIL]', 'g'), '\d{4,}', '[NUM]', 'g') AS masked,
            CAST(len(regexp_extract_all(text, '[\w.+-]+@[\w-]+\.[\w.]+')) AS INTEGER) AS n_emails,
            CAST(len(regexp_extract_all(regexp_replace(text, '[\w.+-]+@[\w-]+\.[\w.]+', '[EMAIL]', 'g'), '\d{4,}')) AS INTEGER) AS n_nums
            FROM documents ORDER BY doc_id"""))

  // Cohort retention: users grouped by their first active week, counted in
  // each subsequent week they return. Weeks are engine-aligned (Monday
  // truncation in both); offsets are exact integer day-diffs / 7.
  private val eventsRetention = Q(
    (s, d) => {
      val weekly = events(s, d)
        .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wk"))
        .distinct()
      val cohort = weekly.groupBy("user_id").agg(min(col("wk")).as("cohort_week"))
      weekly.join(cohort, "user_id")
        .groupBy(col("cohort_week"),
          (datediff(col("wk"), col("cohort_week")) / 7).cast("int").as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort_week", "week_offset")
    },
    Some("""WITH weekly AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
                            FROM events),
            cohort AS (SELECT user_id, min(wk) AS cohort_week FROM weekly GROUP BY user_id)
            SELECT c.cohort_week, CAST(date_diff('day', c.cohort_week, w.wk) / 7 AS INTEGER) AS week_offset,
                   count(DISTINCT w.user_id) AS n_users
            FROM weekly w JOIN cohort c ON w.user_id = c.user_id
            GROUP BY c.cohort_week, week_offset
            ORDER BY cohort_week, week_offset"""))

  // Gaps-and-islands: consecutive-active-day streaks per user via the
  // day − row_number() island key — the classic formulation, one
  // shuffle/sort per user.
  private val eventsStreaks = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("day"))
      events(s, d)
        .select(col("user_id"), col("ts").cast("date").as("day"))
        .distinct()
        .withColumn("rn", row_number().over(w))
        .withColumn("grp", date_sub(col("day"), col("rn")))
        .groupBy("user_id", "grp")
        .agg(min(col("day")).as("streak_start"), max(col("day")).as("streak_end"),
          count(lit(1)).as("n_days"))
        .select("user_id", "streak_start", "streak_end", "n_days")
        .orderBy("user_id", "streak_start")
    },
    Some("""WITH daily AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
            ranked AS (SELECT user_id, day,
                       row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
                       FROM daily)
            SELECT user_id, min(day) AS streak_start, max(day) AS streak_end,
                   count(*) AS n_days
            FROM ranked GROUP BY user_id, day - CAST(rn AS INTEGER)
            ORDER BY user_id, streak_start"""))

  // TF-IDF-style distinctive terms, integer-ranked: top-3 tokens per doc by
  // (term frequency desc, document frequency asc, token asc). Pure integer
  // ordering — no float idf, so no cross-engine libm (ln) divergence.
  private val textTfidfTopk = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val tf = documents(s, d)
        .repartition(col("doc_id"))
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tf").desc, col("df").asc, col("tok").asc)
      tf.join(df, "tok")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("doc_id", "rank", "tok", "tf", "df")
        .orderBy("doc_id", "rank")
    },
    Some("""WITH tf AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
                        FROM documents),
            tfc AS (SELECT doc_id, tok, count(*) AS tf FROM tf GROUP BY doc_id, tok),
            dfc AS (SELECT tok, count(*) AS df FROM tfc GROUP BY tok)
            SELECT doc_id, CAST(rank AS INTEGER) AS rank, tok, tf, df FROM (
              SELECT tfc.doc_id, tfc.tok, tfc.tf, dfc.df,
                     row_number() OVER (PARTITION BY tfc.doc_id
                       ORDER BY tfc.tf DESC, dfc.df ASC, tfc.tok ASC) AS rank
              FROM tfc JOIN dfc ON tfc.tok = dfc.tok) t
            WHERE rank <= 3 ORDER BY doc_id, rank"""))

  // Semi-structured ops over the JSON props column: path extraction, typed
  // parse (from_json), validity flag, grouped rollup on an extracted field.
  private val jsonFuncs = Q(
    (s, d) =>
      events(s, d)
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k_val"),
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType))))
            .getField("k").as("k_typed"),
          col("props").rlike("^\\{").as("looks_json"))
        .orderBy("event_id"),
    Some("""SELECT event_id,
            CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val,
            CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_typed,
            regexp_matches(props, '^\{') AS looks_json
            FROM events ORDER BY event_id"""))

  // Repetition/diversity quality signals (the Gopher-style filters a
  // pretraining pipeline runs after basic length/stopword checks): type-
  // token ratio and top-token fraction. Exact integer counts with ONE final
  // double division per column, so both engines agree bitwise. One shuffle
  // chain: explode → per-(doc, token) counts → per-doc rollup (n_tok
  // recovered as sum(c), no second scan).
  private val textRepetition = Q(
    (s, d) =>
      documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(
          sum(col("c")).as("n_tok"),
          count(lit(1)).as("n_distinct"),
          max(col("c")).as("max_c"))
        .select(col("doc_id"), col("n_tok"), col("n_distinct"),
          (col("n_distinct").cast("double") / col("n_tok").cast("double")).as("ttr"),
          (col("max_c").cast("double") / col("n_tok").cast("double")).as("top_token_frac"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id, n_tok, n_distinct,
            CAST(n_distinct AS DOUBLE) / CAST(n_tok AS DOUBLE) AS ttr,
            CAST(max_c AS DOUBLE) / CAST(n_tok AS DOUBLE) AS top_token_frac
            FROM (
              SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
                     count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS max_c
              FROM (SELECT doc_id, t, count(*) AS c
                    FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
                          FROM documents) u
                    GROUP BY doc_id, t) g
              GROUP BY doc_id) r
            ORDER BY doc_id"""))

  // Duplicate-n-gram repetition signals — the n>1 half of Gopher's
  // repetition filter set (Rae et al. 2021, arXiv:2112.11446 §A1.1:
  // "fraction of characters in duplicate n-grams", at token granularity
  // here like text_repetition's unigram signals): per doc, the fraction of
  // n-gram POSITIONS whose gram occurs ≥2 times in the doc, and the
  // fraction claimed by the single most frequent gram, for n = 2 and 3.
  // A doc shorter than n tokens has no n-gram positions and scores 0.
  // One explode + two hash aggs per n — linear, no pair join; each frac is
  // ONE integer÷integer double division so the DuckDB twin is bit-exact.
  private val textRepetitionNgram = Q(
    (s, d) => {
      val toks = tokens(col("text"))
      def gramStats(n: Int) =
        documents(s, d)
          .filter(size(toks) >= n)
          .select(col("doc_id"), explode(
            transform(sequence(lit(1), size(toks) - (n - 1)),
              i => array_join(slice(toks, i, lit(n)), " "))).as("g"))
          .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
          .groupBy("doc_id").agg(
            sum(col("c")).as(s"n$n"),
            sum(when(col("c") >= 2, col("c")).otherwise(0L)).as(s"dup$n"),
            max(col("c")).as(s"max$n"))
      documents(s, d).select(col("doc_id"))
        .join(gramStats(2), Seq("doc_id"), "left")
        .join(gramStats(3), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("dup2").cast("double") / col("n2").cast("double"), lit(0.0))
            .as("dup_2gram_frac"),
          coalesce(col("max2").cast("double") / col("n2").cast("double"), lit(0.0))
            .as("top_2gram_frac"),
          coalesce(col("dup3").cast("double") / col("n3").cast("double"), lit(0.0))
            .as("dup_3gram_frac"),
          coalesce(col("max3").cast("double") / col("n3").cast("double"), lit(0.0))
            .as("top_3gram_frac"))
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
            g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
                     i -> array_to_string(t[i:i+1], ' '))) AS g
                   FROM tok WHERE len(t) >= 2),
            g3 AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
                     i -> array_to_string(t[i:i+2], ' '))) AS g
                   FROM tok WHERE len(t) >= 3),
            s2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n2,
                          CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup2,
                          CAST(max(c) AS BIGINT) AS max2
                   FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g) t
                   GROUP BY doc_id),
            s3 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n3,
                          CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup3,
                          CAST(max(c) AS BIGINT) AS max3
                   FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY doc_id, g) t
                   GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce(CAST(dup2 AS DOUBLE) / CAST(n2 AS DOUBLE), 0.0) AS dup_2gram_frac,
                   coalesce(CAST(max2 AS DOUBLE) / CAST(n2 AS DOUBLE), 0.0) AS top_2gram_frac,
                   coalesce(CAST(dup3 AS DOUBLE) / CAST(n3 AS DOUBLE), 0.0) AS dup_3gram_frac,
                   coalesce(CAST(max3 AS DOUBLE) / CAST(n3 AS DOUBLE), 0.0) AS top_3gram_frac
            FROM documents d
            LEFT JOIN s2 ON s2.doc_id = d.doc_id
            LEFT JOIN s3 ON s3.doc_id = d.doc_id
            ORDER BY d.doc_id"""))

  // BPE tokenizer-training statistics (ops.BpeTrain — Sennrich et al. 2016):
  // the weighted adjacent-symbol pair counts of training round 1 over the
  // corpus's own word-frequency table, top 20 by (count, pair). The corpus
  // collapses to the vocab-sized (word, freq) table in ONE shuffle and
  // every training round touches only that table — the property that makes
  // corpus-scale tokenizer training cheap; the full k-merge loop (argmax →
  // map-side merge fold, one row to the driver per round) is fit(), pinned
  // against a sequential reference implementation in BpeTrainSpec.
  private val bpePairCounts = Q(
    (s, d) =>
      graft.ops.BpeTrain.pairCounts(
          graft.ops.BpeTrain.seedVocab(documents(s, d), "text"))
        .orderBy(col("pair_count").desc, col("lsym"), col("rsym"))
        .limit(20),
    Some("""WITH w AS (SELECT t AS word, count(*) AS freq
                       FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS t
                             FROM documents) u
                       WHERE len(t) > 0 GROUP BY t),
            c AS (SELECT freq, string_split(word, '') AS chars FROM w),
            p AS (SELECT freq,
                    unnest(list_transform(range(1, len(chars)), i -> chars[i])) AS lsym,
                    unnest(list_transform(range(1, len(chars)), i -> chars[i+1])) AS rsym
                  FROM c WHERE len(chars) >= 2)
            SELECT lsym, rsym, CAST(sum(freq) AS BIGINT) AS pair_count
            FROM p GROUP BY lsym, rsym
            ORDER BY pair_count DESC, lsym, rsym LIMIT 20"""))

  // Benchmark decontamination (ops.Decontaminate): flag corpus docs whose
  // 3-token shingle inventory overlaps a benchmark set (here: every 97th
  // doc stands in for an eval suite) by >= 8 distinct shingles. The
  // benchmark reduces to a distinct broadcast hash set; the corpus side is
  // one scan + broadcast join + per-doc count — nothing corpus-sized
  // shuffles, the 100 TB decontamination sweep shape. The oracle reuses the
  // Jaccard family's shingle CTEs, so "overlap" means exactly what the
  // dedup thresholds mean.
  private val textDecontam = Q(
    (s, d) => {
      val docs = documents(s, d)
      graft.ops.Decontaminate.flags(
          docs, "doc_id", "text",
          docs.filter(col("doc_id") % 97 === 0), "text", minOverlap = 8L)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    Some(s"""${DedupQueries.shingleCtes},
             ds AS (SELECT doc_id, unnest(list_distinct(hs)) AS h FROM hs),
             bs AS (SELECT DISTINCT unnest(list_distinct(hs)) AS h FROM hs
                    WHERE doc_id % 97 = 0),
             hits AS (SELECT doc_id, count(*) AS n_hits
                      FROM ds JOIN bs USING (h) GROUP BY doc_id)
             SELECT d.doc_id,
                    coalesce(hits.n_hits, 0) AS n_hits,
                    coalesce(hits.n_hits, 0) >= 8 AS contaminated
             FROM documents d LEFT JOIN hits USING (doc_id)
             ORDER BY d.doc_id"""))

  // Percentile-calibrated quality filter: instead of a fixed token-count
  // cutoff, the threshold ADAPTS per language — keep docs at or above their
  // language's own 25th percentile. Two passes: a tiny per-language exact
  // percentile aggregate (one row per language), broadcast back over a
  // single filter scan — the only shuffle moves |languages| rows. Token
  // counts are integer-valued doubles, so `percentile`/`quantile_cont`
  // interpolation is bit-identical cross-engine (same argument as
  // agg_percentile). At 100 TB the calibration pass would use the
  // approx-quantile sketch (sketch_quantiles) — the exact twin here is
  // what the oracle can hash-verify.
  private val textQualityCalibrated = Q(
    (s, d) => {
      val toks = documents(s, d).select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("double").as("n_tok"))
      val thr = toks.groupBy("lang").agg(expr("percentile(n_tok, 0.25)").as("q25"))
      toks.join(broadcast(thr), "lang")
        .filter(col("n_tok") >= col("q25"))
        .select("doc_id", "lang", "n_tok", "q25")
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id, lang,
                   CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS n_tok
                 FROM documents),
            thr AS (SELECT lang, quantile_cont(n_tok, 0.25) AS q25 FROM toks GROUP BY lang)
            SELECT doc_id, t.lang, n_tok, q25 FROM toks t JOIN thr USING (lang)
            WHERE n_tok >= q25 ORDER BY doc_id"""))

  // Model-scored quality filter: the fastText-shaped hashed linear
  // classifier (Joulin et al. 2016) that web pipelines run as the
  // model-based quality gate — token → feature bucket → weight → mean
  // score, one per-row expression pass, no shuffle. Weights are a
  // deterministic arithmetic table (TextFns.hashedModelScore) so the
  // DuckDB twin materializes the SAME model; both engines left-fold the
  // token list in document order, so the double sums are bit-identical.
  private val textQualityModel = Q(
    (s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          graft.functions.TextFns.hashedModelScore(tokens(col("text"))).as("score"))
        .withColumn("keep", col("score") >= 0.0)
        .orderBy("doc_id"),
    Some("""WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
            th AS (SELECT doc_id, list_transform(t, s ->
                     list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(s, ''), c -> ascii(c))),
                       (a, c) -> (a * 31 + c) % 1000000007)) AS th FROM tok),
            sc AS (SELECT doc_id,
                     list_reduce(list_prepend(CAST(0 AS DOUBLE),
                       list_transform(th, h ->
                         CAST(((h % 4096) * 2654435761 + 7) % 1000000007 % 2001 - 1000 AS DOUBLE) / 1000.0)),
                       (a, x) -> a + x) / CAST(len(th) AS DOUBLE) AS s0
                   FROM th)
            SELECT doc_id, s0 AS score, s0 >= 0 AS keep FROM sc ORDER BY doc_id"""))

  // Full winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 — the
  // MOSS local fingerprinting algorithm; docFingerprint above is the
  // bottom-1 degenerate case): the minimum 3-gram rolling hash of every
  // w=4 gram window, deduplicated per doc — guarantees any shared run of
  // ≥ w+k-1 tokens between two docs shares a fingerprint, the property
  // plagiarism/overlap detection needs and a single bottom sketch lacks.
  // One compiled rolling-hash pass (expressions.GramHashes) + a per-row
  // window-min lambda; shuffle only for the final distinct. The oracle
  // mirrors the double polynomial gram key and the window mins exactly.
  /** Distinct (doc_id, fp) winnowing fingerprints — shared upstream of the
    * doc_winnow dump and the doc_winnow_pairs MOSS-style matcher. */
  private def winnowFps(s: org.apache.spark.sql.SparkSession, d: String) = {
    val gh = graft.expressions.GramHashes(tokens(col("text")), 3)
    documents(s, d)
      .select(col("doc_id"), gh.as("gh"))
      .filter(size(col("gh")) >= 4)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("gh")) - 3),
        i => array_min(slice(col("gh"), i, lit(4))))).as("fp"))
      .distinct()
  }

  private val docWinnow = Q(
    (s, d) => winnowFps(s, d).orderBy("doc_id", "fp"),
    Some("""WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
            th AS (SELECT doc_id, list_transform(t, s ->
                     list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(s, ''), c -> ascii(c))),
                       (a, c) -> (a * 31 + c) % 1000000007)) AS th FROM tok),
            ghl AS (SELECT doc_id, list_transform(generate_series(1, len(th) - 2),
                      p -> list_reduce(list_prepend(CAST(0 AS BIGINT), th[p:p+2]),
                             (a, h) -> (a * 31 + h) % 1000000007) * 999999937
                         + list_reduce(list_prepend(CAST(0 AS BIGINT), th[p:p+2]),
                             (a, h) -> (a * 37 + h) % 999999937)) AS gh
                    FROM th WHERE len(th) >= 3),
            win AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(gh) - 3),
                      i -> list_min(gh[i:i+3]))) AS fp
                    FROM ghl WHERE len(gh) >= 4)
            SELECT DISTINCT doc_id, fp FROM win ORDER BY doc_id, fp"""))

  // MOSS-style winnowing MATCHER (the pairing half of Schleimer et al.
  // 2003, on top of doc_winnow's fingerprints): doc pairs sharing ≥ 8
  // distinct winnow fingerprints, with the count — since any shared token
  // run of ≥ w+k−1 = 6 tokens is guaranteed to leave a shared fingerprint,
  // a high shared count localizes real copied spans, which a global
  // bottom-k sketch can only hint at. Inverted-index join keyed on the
  // fingerprint (the Jaccard family's shape): per-fp fanout is C(df, 2)
  // with df bounded by winnowing's local-min selection (max df 7 on this
  // corpus); a production corpus with boilerplate would df-cap the index
  // exactly like Dedup.hotShingleDf.
  private val docWinnowPairs = Q(
    (s, d) => {
      val fps = winnowFps(s, d)
      fps.as("a").join(fps.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 8)
        .orderBy("id1", "id2")
    },
    Some("""WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
            th AS (SELECT doc_id, list_transform(t, s ->
                     list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(s, ''), c -> ascii(c))),
                       (a, c) -> (a * 31 + c) % 1000000007)) AS th FROM tok),
            ghl AS (SELECT doc_id, list_transform(generate_series(1, len(th) - 2),
                      p -> list_reduce(list_prepend(CAST(0 AS BIGINT), th[p:p+2]),
                             (a, h) -> (a * 31 + h) % 1000000007) * 999999937
                         + list_reduce(list_prepend(CAST(0 AS BIGINT), th[p:p+2]),
                             (a, h) -> (a * 37 + h) % 999999937)) AS gh
                    FROM th WHERE len(th) >= 3),
            win AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, len(gh) - 3),
                      i -> list_min(gh[i:i+3]))) AS fp
                    FROM ghl WHERE len(gh) >= 4)
            SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(count(*) AS BIGINT) AS shared
            FROM win a JOIN win b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 8
            ORDER BY id1, id2"""))

  // Corpus-trained unigram-LM gate (the CCNet perplexity filter's shape,
  // Wenzek et al. 2020): mean WHOLE-BIT surprisal per doc — bits(N div c),
  // i.e. −log2 p(token) quantized to whole bits via exact integer
  // arithmetic (ops.UnigramLM), so both engines hash identically where a
  // libm log would drift. keep = surprisal ≤ 5.05 bits/token — on this
  // corpus scores run 5.0–5.5 and the threshold keeps ≈75%.
  private val textSurprisal = Q(
    (s, d) =>
      graft.ops.UnigramLM.surprisal(documents(s, d).select("doc_id", "text"),
          "doc_id", "text")
        .orderBy("doc_id"),
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t FROM documents),
            dt AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY doc_id, t),
            voc AS (SELECT t, CAST(sum(c) AS BIGINT) AS dfc FROM dt GROUP BY t),
            tot AS (SELECT CAST(sum(dfc) AS BIGINT) AS n FROM voc),
            sc AS (SELECT doc_id,
                     CAST(sum(c) AS BIGINT) AS ntok,
                     CAST(sum(c * len(bin(n // dfc))) AS BIGINT) AS ssum
                   FROM dt JOIN voc USING (t) CROSS JOIN tot GROUP BY doc_id)
            SELECT doc_id, ntok AS n_tok,
                   CAST(ssum AS DOUBLE) / CAST(ntok AS DOUBLE) AS surprisal,
                   CAST(ssum AS DOUBLE) / CAST(ntok AS DOUBLE) <= 5.05 AS keep
            FROM sc ORDER BY doc_id"""))


  // Time-series regularization: hourly per-type buckets with MISSING hours
  // materialized from a generated integer hour grid (sequence + explode —
  // no resampling UDF), counts zero-filled and the last seen hourly total
  // carried forward (last_value ignoreNulls over the hour order) — the
  // resample + forward-fill step every metrics/feature pipeline runs.
  // Integer epoch-hours keep the grid exact; the carried value reuses the
  // exact-decimal sum. Scale: one agg shuffle + one window keyed by type;
  // the grid is |types| x |span| rows, generated, never read.
  private val eventsGapfill = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, d).select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("h"), col("value"))
      val hourly = ev.groupBy("event_type", "h")
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      val span = hourly.groupBy("event_type").agg(min("h").as("h0"), max("h").as("h1"))
      val grid = span.select(col("event_type"), explode(sequence(col("h0"), col("h1"))).as("h"))
      val w = Window.partitionBy("event_type").orderBy("h")
      grid.join(hourly, Seq("event_type", "h"), "left")
        .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
        .withColumn("carried_value", last(col("total_value"), ignoreNulls = true).over(w))
        .select("event_type", "h", "n_events", "carried_value")
        .orderBy("event_type", "h")
    },
    Some(s"""WITH ev AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h, value FROM events),
            hourly AS (SELECT event_type, h, count(*) AS n_events,
                              ${sqlDsum("value")} AS total_value
                       FROM ev GROUP BY 1, 2),
            span AS (SELECT event_type, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1),
            grid AS (SELECT event_type, unnest(generate_series(h0, h1)) AS h FROM span),
            j AS (SELECT g.event_type, g.h,
                         CAST(coalesce(n_events, 0) AS BIGINT) AS n_events, total_value
                  FROM grid g LEFT JOIN hourly USING (event_type, h))
            SELECT event_type, h, n_events,
                   last_value(total_value IGNORE NULLS) OVER (
                     PARTITION BY event_type ORDER BY h) AS carried_value
            FROM j ORDER BY event_type, h"""))


  // The Gopher rule-based quality bundle (Rae et al. 2021, arXiv:2112.11446
  // §A1.1): the published pre-filters web pipelines run before any model
  // gate, as ONE per-row expression pass (no UDF, no shuffle) — token count
  // in [50, 100k], mean word length in [3, 10], symbol-to-word ratio
  // (#/ellipsis) < 0.1, ≥70% of words contain an alphabetic character, and
  // ≥2 distinct stopwords (the "real language" check). Every signal is an
  // integer count or a single exact division, so the DuckDB twin hashes
  // identically. (The subset of rules needing line structure — bullet
  // ratios — is inapplicable to this corpus's single-line docs.)
  private val textGopherRules = Q(
    (s, d) => {
      val toks = tokens(col("text"))
      val ntok = size(toks).cast("long")
      val chars = aggregate(toks, lit(0L), (a, t) => a + length(t))
      val alpha = size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long")
      val sym = size(regexp_extract_all(col("text"), lit("#|\\.\\.\\."), lit(0))).cast("long")
      val nstop = size(array_distinct(filter(toks,
        t => t.isInCollection(graft.functions.TextFns.stopwords)))).cast("long")
      documents(s, d)
        .select(col("doc_id"), ntok.as("n_tok"),
          (chars.cast("double") / ntok.cast("double")).as("mean_wlen"),
          (alpha.cast("double") / ntok.cast("double")).as("alpha_frac"),
          (sym.cast("double") / ntok.cast("double")).as("symbol_frac"),
          nstop.as("n_stopwords"))
        .withColumn("keep",
          col("n_tok") >= 50L && col("n_tok") <= 100000L &&
          col("mean_wlen") >= 3.0 && col("mean_wlen") <= 10.0 &&
          col("alpha_frac") >= 0.7 && col("symbol_frac") < 0.1 &&
          col("n_stopwords") >= 2L)
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk, text FROM documents),
            s AS (SELECT doc_id,
                    CAST(len(tk) AS BIGINT) AS n_tok,
                    CAST(list_sum(list_transform(tk, x -> len(x))) AS BIGINT) AS chars,
                    CAST(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha,
                    CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS BIGINT) AS sym,
                    CAST(len(list_distinct(list_filter(tk,
                      x -> x IN ('the','a','of','and','to','in','is')))) AS BIGINT) AS nstop
                  FROM t)
            SELECT doc_id, n_tok,
                   CAST(chars AS DOUBLE) / CAST(n_tok AS DOUBLE) AS mean_wlen,
                   CAST(alpha AS DOUBLE) / CAST(n_tok AS DOUBLE) AS alpha_frac,
                   CAST(sym AS DOUBLE) / CAST(n_tok AS DOUBLE) AS symbol_frac,
                   nstop AS n_stopwords,
                   (n_tok >= 50 AND n_tok <= 100000
                    AND CAST(chars AS DOUBLE) / CAST(n_tok AS DOUBLE) >= 3.0
                    AND CAST(chars AS DOUBLE) / CAST(n_tok AS DOUBLE) <= 10.0
                    AND CAST(alpha AS DOUBLE) / CAST(n_tok AS DOUBLE) >= 0.7
                    AND CAST(sym AS DOUBLE) / CAST(n_tok AS DOUBLE) < 0.1
                    AND nstop >= 2) AS keep
            FROM s ORDER BY doc_id"""))

  // Last-touch attribution: for every conversion (purchase) event, the most
  // recent PRIOR non-conversion event of the same user — the classic
  // marketing-attribution shape, and a window pattern (filtered last_value
  // IGNORE NULLS over an unbounded-to-minus-one frame) the catalog did not
  // yet cover. One partitioned sort per user; the time delta is an exact
  // integer microsecond difference so the twin hashes bit-identically. A
  // user's first purchase has no prior touch and keeps NULLs (both engines).
  private val eventsAttribution = Q(
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val touch = when(col("event_type") =!= "purchase", col("event_type"))
      val touchTs = when(col("event_type") =!= "purchase", col("ts"))
      events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("touch_type", last(touch, ignoreNulls = true).over(w))
        .withColumn("touch_ts", last(touchTs, ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("touch_type"),
          (expr("unix_micros(ts)") - expr("unix_micros(touch_ts)"))
            .cast("long").as("usec_since_touch"))
        .orderBy("event_id")
    },
    Some("""WITH w AS (SELECT user_id, event_id, ts, event_type,
                 last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
                   OVER win AS touch_type,
                 last_value(CASE WHEN event_type <> 'purchase' THEN ts END IGNORE NULLS)
                   OVER win AS touch_ts
               FROM events
               WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
            SELECT user_id, event_id, touch_type,
                   CAST(epoch_us(ts) - epoch_us(touch_ts) AS BIGINT) AS usec_since_touch
            FROM w WHERE event_type = 'purchase' ORDER BY event_id"""))

  // Lexical diversity per document: type-token ratio + hapax fraction (the
  // classic repetitiveness complement — low TTR flags boilerplate/template
  // text that n-gram repetition scores can miss). Computed as ONE per-row
  // expression pass: n_types via array_distinct, hapax (types seen once)
  // via one sort of the tokens and a run-length fold over it, the shape of
  // CorpusPipeline's top-token count — O(t log t) per row. Counting each
  // type's occurrences with a nested filter instead is O(types·tokens), a
  // quadratic cost that grows with document length. No shuffle, no UDF;
  // ratios are single double divisions of exact integers.
  private val textTtr = Q(
    (s, d) => {
      val toks = tokens(col("text"))
      val types = array_distinct(toks)
      val nTok = size(toks).cast("long")
      val nTypes = size(types).cast("long")
      def once(run: org.apache.spark.sql.Column) = when(run === 1L, 1L).otherwise(0L)
      val nHapax = aggregate(
        sort_array(toks),
        struct(lit(0L).as("hapax"), lit(0L).as("run"), lit("").as("prev")),
        (acc, t) => {
          val same = t === acc.getField("prev")
          struct(
            when(same, acc.getField("hapax"))
              .otherwise(acc.getField("hapax") + once(acc.getField("run"))).as("hapax"),
            when(same, acc.getField("run") + 1L).otherwise(lit(1L)).as("run"),
            t.as("prev"))
        },
        acc => acc.getField("hapax") + once(acc.getField("run"))
      ).cast("long")
      documents(s, d)
        .select(col("doc_id"), nTok.as("n_tok"), nTypes.as("n_types"),
          nHapax.as("n_hapax"))
        .withColumn("ttr",
          col("n_types").cast("double") / col("n_tok").cast("double"))
        .withColumn("hapax_frac",
          col("n_hapax").cast("double") / col("n_types").cast("double"))
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
                 FROM documents),
            tc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok),
            s AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
                         CAST(count(*) AS BIGINT) AS n_types,
                         CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax
                  FROM tc GROUP BY doc_id)
            SELECT doc_id, n_tok, n_types, n_hapax,
                   CAST(n_types AS DOUBLE) / CAST(n_tok AS DOUBLE) AS ttr,
                   CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE) AS hapax_frac
            FROM s ORDER BY doc_id"""))

  // Per-key label diversity: Simpson diversity index 1 − Σpᵢ² of each user's
  // event-type distribution — the label-balance signal a curation pipeline
  // computes before stratified sampling (a user whose events are one type
  // carries less signal than a balanced one). Entropy is the textbook
  // choice, but log() is not IEEE-correctly-rounded and would diverge
  // between engines in the last ulp; Simpson is the same ordering with only
  // exact integer sums and ONE double division — (N² − Σnᵢ²)/N² — so the
  // oracle hashes bit-identically. Two linear hash aggregations, no joins.
  private val aggDiversity = Q(
    (s, d) => {
      val c = events(s, d).groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"))
      val nd = col("n_events").cast("double")
      c.groupBy("user_id")
        .agg(sum(col("n")).as("n_events"),
          count(lit(1)).as("n_types"),
          sum(col("n") * col("n")).as("ssq"))
        .select(col("user_id"), col("n_events"), col("n_types"),
          ((nd * nd - col("ssq").cast("double")) / (nd * nd)).as("simpson"))
        .orderBy("user_id")
    },
    Some("""WITH c AS (SELECT user_id, event_type, count(*) AS n
                       FROM events GROUP BY 1, 2),
            s AS (SELECT user_id, CAST(sum(n) AS BIGINT) AS n_events,
                         CAST(count(*) AS BIGINT) AS n_types,
                         CAST(sum(n * n) AS BIGINT) AS ssq
                  FROM c GROUP BY user_id)
            SELECT user_id, n_events, n_types,
                   (CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE) - CAST(ssq AS DOUBLE))
                     / (CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE)) AS simpson
            FROM s ORDER BY user_id"""))

  // Vocabulary coverage / OOV rate: freeze the top-1000-token vocabulary by
  // (global count DESC, token) — the fixed-tokenizer-vocab stand-in — then
  // score every document's out-of-vocabulary token fraction (the coverage
  // check run before committing a tokenizer to a corpus). TWO corpus passes
  // by design: the vocab build is its own explode+agg pass, then the
  // SCORING half is one exploded-token pass with a broadcast vocab lookup
  // folded into the per-doc agg (no corpus-side shuffle) — with a frozen
  // vocab that half is a pure map+agg, streaming-legal. The shared `tok`
  // frame is deliberately NOT persisted: token-exploded rows are several
  // times the corpus size, so at scale re-scanning the parquet twice is
  // cheaper than caching the explosion. One integer÷integer double division
  // so the oracle is bit-exact.
  private val textOovRate = Q(
    (s, d) => {
      val tok = documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val vocab = tok.groupBy("tok").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok")).limit(1000)
        .select(col("tok"), lit(1L).as("__v"))
      tok.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          sum(coalesce(col("__v"), lit(0L))).as("n_in"))
        .withColumn("n_oov", col("n_tok") - col("n_in"))
        .withColumn("oov_frac",
          col("n_oov").cast("double") / col("n_tok").cast("double"))
        .select("doc_id", "n_tok", "n_oov", "oov_frac")
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
                 FROM documents),
            v AS (SELECT tok FROM (
                    SELECT tok, count(*) AS c FROM tok GROUP BY tok
                    ORDER BY c DESC, tok LIMIT 1000)),
            sc AS (SELECT t.doc_id,
                     CAST(count(*) AS BIGINT) AS n_tok,
                     CAST(count(v.tok) AS BIGINT) AS n_in
                   FROM tok t LEFT JOIN v ON t.tok = v.tok
                   GROUP BY t.doc_id)
            SELECT doc_id, n_tok, n_oov,
                   CAST(n_oov AS DOUBLE) / CAST(n_tok AS DOUBLE) AS oov_frac
            FROM (SELECT doc_id, n_tok, n_tok - n_in AS n_oov FROM sc) s
            ORDER BY doc_id"""))

  // Keyed debounce dedup — the telemetry-ingest rule "drop an event that
  // repeats its (user, type) key within 300 s of the PRECEDING raw event":
  // one lag over a (user, type)-keyed window, a pure time comparison in
  // integer microseconds (both engines read the same µs values — see
  // Tables.events). One keyed shuffle+sort; the streaming twin of this
  // rule is keyed state with a timestamp (StatefulOps.sessionize family).
  private val eventsDedupWindow = Q(
    (s, d) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      graft.Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .filter(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") >= lit(300000000L))
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, event_type FROM (
              SELECT event_id, user_id, event_type,
                     lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS prev_us,
                     epoch_us(ts) AS us
              FROM events) t
            WHERE prev_us IS NULL OR us - prev_us >= 300000000
            ORDER BY event_id"""))

  // Per-group mode (argmax) with a DETERMINISTIC tie-break — "each user's
  // dominant event type": per-(group, value) counts, then one row per group
  // by (count DESC, value ASC). Spark's built-in mode() leaves ties
  // engine-defined; the explicit window makes the answer unique, so the
  // oracle mirrors it row for row. Two shuffles: the pair-count agg and the
  // group-keyed window over the COUNTS frame (pairs-sized, not row-sized).
  private val aggMode = Q(
    (s, d) => {
      val counts = graft.Tables.events(s, d).groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n_events"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("n_events").desc, col("event_type"))
      counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("mode_type"), col("n_events"))
        .orderBy("user_id")
    },
    Some("""SELECT user_id, mode_type, n_events FROM (
              SELECT user_id, event_type AS mode_type,
                     CAST(count(*) AS BIGINT) AS n_events,
                     row_number() OVER (PARTITION BY user_id
                       ORDER BY count(*) DESC, event_type) AS rn
              FROM events GROUP BY user_id, event_type) t
            WHERE rn = 1 ORDER BY user_id"""))

  // Key-skew diagnostic — the measurement BEFORE the join_skew_salted
  // decision: per-key counts, each key's traffic share in exact ppm
  // (integer multiply-then-DIV, no double division), top-20 by share. The
  // global total is a SCALAR aggregate broadcast back onto the per-key frame
  // through the pmod dummy-key BroadcastHashJoin (api.Similarity.cosineTopK's
  // shape — non-foldable so Catalyst keeps the codegen'd equi join), never a
  // single-partition window: |distinct user_id| at 100 TB of telemetry is
  // 10⁸–10⁹ rows, far too many to force through one task. Both join sides
  // derive from the same groupBy, so Catalyst's ReuseExchange shares one
  // events scan + one aggregation exchange between them — and unlike
  // ops.Sampling.inclusiveRunningSum's __pid join, CORRECTNESS does not ride
  // on that reuse (the total is the same under any recomputation), so the
  // entry stays lazy/plan-inspectable instead of persist+checkpoint.
  private val skewStats = Q(
    (s, d) => {
      val counts = graft.Tables.events(s, d).groupBy("user_id")
        .agg(count(lit(1)).as("n_events"))
      counts
        .withColumn("__z", pmod(col("n_events"), lit(1L)))
        .join(broadcast(counts.agg(sum(col("n_events")).as("total"))
          .withColumn("__z", pmod(col("total"), lit(1L)))), Seq("__z"))
        .withColumn("share_ppm", expr("(n_events * 1000000L) DIV total"))
        .orderBy(col("n_events").desc, col("user_id")).limit(20)
        .select("user_id", "n_events", "share_ppm")
        .orderBy("user_id")
    },
    Some("""SELECT user_id, n_events, share_ppm FROM (
              SELECT user_id, n_events,
                     CAST((n_events * 1000000) // sum(n_events) OVER () AS BIGINT)
                       AS share_ppm
              FROM (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
                    FROM events GROUP BY user_id) c
              ORDER BY n_events DESC, user_id LIMIT 20) t
            ORDER BY user_id"""))

  val all: List[(String, Q)] = List(
    "json_funcs" -> jsonFuncs,
    "ngram_topk" -> ngramTopk,
    "events_sessionize" -> eventsSessionize,
    "text_stats" -> textStats,
    "token_count" -> tokenCount,
    "lang_id" -> langId,
    "text_quality" -> textQuality,
    "text_quality_calibrated" -> textQualityCalibrated,
    "text_quality_model" -> textQualityModel,
    "text_surprisal" -> textSurprisal,
    "text_gopher_rules" -> textGopherRules,
    "doc_fingerprint" -> docFingerprint,
    "doc_winnow" -> docWinnow,
    "doc_winnow_pairs" -> docWinnowPairs,
    "events_window" -> eventsWindow,
    "events_funnel" -> eventsFunnel,
    "events_retention" -> eventsRetention,
    "events_streaks" -> eventsStreaks,
    "events_gapfill" -> eventsGapfill,
    "events_anomaly" -> eventsAnomaly,
    "text_tfidf_topk" -> textTfidfTopk,
    "text_clean" -> textClean,
    "text_pii_mask" -> textPiiMask,
    "text_repetition" -> textRepetition,
    "text_repetition_ngram" -> textRepetitionNgram,
    "bpe_pair_counts" -> bpePairCounts,
    "text_decontam" -> textDecontam,
    "text_oov_rate" -> textOovRate,
    "text_ttr" -> textTtr,
    "agg_diversity" -> aggDiversity,
    "events_dedup_window" -> eventsDedupWindow,
    "events_attribution" -> eventsAttribution,
    "agg_mode" -> aggMode,
    "skew_stats" -> skewStats,
    "multimodal_meta" -> multimodalMeta)
}
