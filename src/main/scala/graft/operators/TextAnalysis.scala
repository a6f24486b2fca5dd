package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text analysis for training-data curation: token statistics, heuristic
  * language ID, quality scoring, and content fingerprinting. All
  * map/aggregate-parallel with no cross-document state — each stays one
  * scan + one hash aggregate at any scale.
  */
object TextAnalysis extends QueryModule {

  /** documents pre-partitioned by doc_id for the CPU-bound regex/tokenize
    * stages — see [[graft.Tables.cpuPartitioned]]. */
  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.cpuPartitioned(s, d, "documents", "doc_id")

  private def toks(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), explode(TextExprs.toks(col("text"))).as("tok"))

  private val toksSql =
    s"""toks AS (SELECT doc_id, unnest(${TextExprs.toksSql("text")}) AS tok
         FROM documents)"""

  /** (doc_id, t1, t2) adjacent-token pairs from a bounded in-row
    * transform — no self-join, no per-doc sort window. Shared by the BPE
    * merge counter and the bigram LM. */
  private def bigrams(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"), TextExprs.toks(col("text")).as("tk"))
      .select(col("doc_id"), explode(when(size(col("tk")) >= 2,
        expr("transform(sequence(0, size(tk) - 2), i -> named_struct('t1', tk[i], 't2', tk[i+1]))"))
        .otherwise(expr("CAST(array() AS ARRAY<STRUCT<t1: STRING, t2: STRING>>)"))).as("p"))
      .select(col("doc_id"), col("p.t1").as("t1"), col("p.t2").as("t2"))

  private val bigramsSql =
    s"""base AS (SELECT doc_id, ${TextExprs.toksSql("text")} AS tk FROM documents),
       bg AS (SELECT doc_id, tk[p] AS t1, tk[p + 1] AS t2
              FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS p
                    FROM base) x)"""

  /** tiny stopword lexicons per language (n-gram heuristic stand-in) */
  private val lexicon: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "and", "en" -> "of", "en" -> "to", "en" -> "is",
    "es" -> "el", "es" -> "la", "es" -> "de", "es" -> "que", "es" -> "y",
    "de" -> "der", "de" -> "die", "de" -> "das", "de" -> "und", "de" -> "ist",
    "fr" -> "le", "fr" -> "les", "fr" -> "et", "fr" -> "est", "fr" -> "un")

  private val lexiconSql = lexicon.map { case (l, w) => s"('$l', '$w')" }.mkString(", ")

  /** Shared BPE TRAINER machinery — ONE definition for the 2-round
    * dashboard row (q_text_bpe_train) and the 20-round kernel
    * composition row (q_text_bpe_train_kernel), both sides of the
    * engine (review r13 #6: two diverging trainer copies would let the
    * rows' loops silently drift). The chr(31)/chr(30) string algebra is
    * q_text_bpe_encode's: tokens join on chr(31), a merge is a two-pass
    * delimiter replace (exact canonical greedy for t1 ≠ t2), merged
    * tokens join with chr(30) so they can never re-match a pattern. */
  private object BpeTrain {
    val D = "\u001f"
    val J = "\u001e"

    /** chr(31)-joined token string per doc (NULL for empty docs). */
    def ts0: org.apache.spark.sql.Column = {
      val tk0 = TextExprs.toks(col("text"))
      when(size(tk0) === 0, lit(null))
        .otherwise(concat(lit(D), concat_ws(D, tk0), lit(D)))
    }

    /** adjacent-pair counts over the current encoding; `excludeSelf`
      * keeps the two-pass replace in its exact-greedy regime (the
      * kernel row's seam — the dashboard row keeps self-pairs, the
      * reference trainer behavior). */
    def pairCounts(enc: DataFrame, excludeSelf: Boolean): DataFrame = {
      val bg = enc.filter(col("ts").isNotNull)
        .selectExpr(s"slice(split(ts, '$D'), 2, size(split(ts, '$D')) - 2) AS tk")
        .filter(size(col("tk")) >= 2)
        .selectExpr("explode(transform(sequence(0, size(tk) - 2), " +
          "i -> named_struct('t1', tk[i], 't2', tk[i+1]))) AS p")
        .select(col("p.t1").as("t1"), col("p.t2").as("t2"))
      (if (excludeSelf) bg.filter(col("t1") =!= col("t2")) else bg)
        .groupBy("t1", "t2").agg(count(lit(1)).as("cnt"))
    }

    /** the round's argmax (full total-order tie-break), failing LOUDLY
      * when the corpus runs out of mergeable pairs (review r13 #4 — an
      * unguarded head would throw NoSuchElementException and the oracle
      * would fail differently). */
    def top1(pc: DataFrame, round: Int): (String, String, Long) = {
      val rows = pc.orderBy(desc("cnt"), asc("t1"), asc("t2")).limit(1).collect()
      require(rows.nonEmpty,
        s"BPE trainer: no mergeable pair left at round $round — " +
          "the corpus is exhausted, lower the merge count")
      (rows.head.getString(0), rows.head.getString(1), rows.head.getLong(2))
    }

    def applyMerge(enc: DataFrame, t1: String, t2: String): DataFrame = {
      val p = lit(D + t1 + D + t2 + D)
      val r = lit(D + t1 + J + t2 + D)
      enc.select(col("doc_id"), call_function("replace",
        call_function("replace", col("ts"), p, r), p, r).as("ts"))
    }

    /** The full training loop: `rounds` × (argmax → merge), returning
      * the merge table and the FINAL encoding (pinned — caller
      * releases). `checkpointEvery` is the materialization cadence
      * (VERDICT r13 #5 — the measured headroom): at 1 every round's
      * encoding pins (one extra Spark job per round); at k the
      * applyMerge projections CHAIN and fuse into the next round's
      * pair-count scan, so the intermediate jobs vanish — the merges
      * are IDENTICAL by construction (the argmax reads the same
      * relation either way; BpeSemanticsSpec pins it), and pin-release
      * stays safe because a superseded checkpoint is dropped only
      * AFTER the next eager localCheckpoint materialized.
      *
      * LOOKAHEAD (optimization r15, VERDICT r14 #7): each pair-count
      * job collects the top `lookK` rows instead of the top 1, and when
      * those rows PROVE round i+1's argmax, that round's count job is
      * skipped — two merge rounds per Spark job. The proof (each step
      * follows from the two-pass-replace string algebra, not from
      * greedy canonicality, so it holds for t1 = t2 rows too — though
      * those never certify, see (c)):
      *
      *   - applying merge (a1, b1) cannot change the count of any pair
      *     DISJOINT from {a1, b1}: the rewrite only touches characters
      *     at merged occurrences, and every (x, y) adjacency with
      *     x, y ∉ {a1, b1} survives verbatim;
      *   - a pair TOUCHING a1/b1 can only lose occurrences, and every
      *     NEW pair (one side the merged token a1⊕b1) inherits each of
      *     its occurrences from a pre-merge adjacency involving a1 or
      *     b1 — so its count is bounded by some pre-merge touching
      *     pair's count: (x, m) ≤ old (x, a1); (m, y) ≤ old (b1, y);
      *     (m, m) ≤ old (b1, a1);
      *   - for a1 ≠ b1 the two-pass replace leaves ZERO residual
      *     (a1, b1) adjacencies (the exact-greedy property
      *     BpeSemanticsSpec pins); a SELF pair (a1 = b1) can seed new
      *     pairs bounded only by its own count, so self argmaxes never
      *     certify a lookahead.
      *
      * Therefore, if the best collected pair P* disjoint from
      * {a1, b1} has count STRICTLY above (1) every collected pair
      * touching a1/b1 and (2) the last collected row's count (an upper
      * bound on everything outside the collection — including
      * self-pairs the excludeSelf filter hides, which is why the
      * lookahead collects UNfiltered counts), then P* is round i+1's
      * argmax: unchanged eligible pairs keep their order (P* first
      * among them), and every changed or new pair lands strictly below
      * it. Ties never certify (strict >), so the full
      * (cnt, t1, t2) tie-break order is preserved. `lookahead = false`
      * forces the sequential one-argmax-per-job chain — the reference
      * the BpeSemanticsSpec equality test compares against. */
    def trainLoop(base: DataFrame, rounds: Int, excludeSelf: Boolean,
        checkpointEvery: Int = 2, lookahead: Boolean = true)
        : (Seq[(String, String)], DataFrame) = {
      require(rounds >= 1, s"trainLoop needs >= 1 round, got $rounds")
      require(checkpointEvery >= 1,
        s"checkpointEvery must be >= 1, got $checkpointEvery")
      val lookK = 16
      val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var enc = base
      var lastPin: DataFrame = null
      var pending: Option[(String, String)] = None
      for (i <- 1 to rounds) {
        val (a, b) = pending match {
          case Some(p) => pending = None; p
          case None if !lookahead =>
            val (a1, b1, _) = top1(pairCounts(enc, excludeSelf), i)
            (a1, b1)
          case None =>
            // UNfiltered counts: self-pairs must be visible to the
            // certification bound even when the argmax excludes them
            val top = pairCounts(enc, excludeSelf = false)
              .orderBy(desc("cnt"), asc("t1"), asc("t2")).limit(lookK).collect()
            val eligible =
              if (excludeSelf) top.filter(r => r.getString(0) != r.getString(1))
              else top
            // all lookK collected rows ineligible ⇒ the true argmax (if
            // any) sits below the collection: fall back to the exact
            // filtered argmax (rare; costs what the old shape always paid)
            val (a1, b1) =
              if (eligible.isEmpty) {
                val (x, y, _) = top1(pairCounts(enc, excludeSelf), i)
                (x, y)
              } else (eligible.head.getString(0), eligible.head.getString(1))
            if (i < rounds && a1 != b1 && eligible.nonEmpty) {
              def touches(r: org.apache.spark.sql.Row): Boolean =
                r.getString(0) == a1 || r.getString(0) == b1 ||
                  r.getString(1) == a1 || r.getString(1) == b1
              val rest = top.filterNot(r =>
                r.getString(0) == a1 && r.getString(1) == b1)
              val pStar = rest.find(r => !touches(r) &&
                (!excludeSelf || r.getString(0) != r.getString(1)))
              pStar.foreach { p =>
                val cStar = p.getLong(2)
                val cTouch = rest.filter(touches).map(_.getLong(2))
                  .foldLeft(0L)(math.max)
                val cFloor = if (top.length == lookK) top.last.getLong(2) else 0L
                if (cStar > math.max(cTouch, cFloor))
                  pending = Some((p.getString(0), p.getString(1)))
              }
            }
            (a1, b1)
        }
        merges += ((a, b))
        val nxt = applyMerge(enc, a, b)
        enc =
          if (i % checkpointEvery == 0 || i == rounds) {
            val pinned = nxt.localCheckpoint() // eager: materialized HERE
            if (lastPin != null) graft.plans.Iterate.release(lastPin)
            lastPin = pinned
            pinned
          } else nxt
      }
      (merges.toSeq, enc)
    }

    def corpusToks(enc: DataFrame): Long = enc.agg(sum(
        when(col("ts").isNull, lit(0L)).otherwise(
          length(col("ts")) -
            length(call_function("replace", col("ts"), lit(D), lit(""))) - 1L)
      )).head.getLong(0)

    // ---- the DuckDB side of the same loop, one CTE template ----

    /** the corpus encoding CTE (round 0). */
    val baseSql: String =
      s"""enc0 AS MATERIALIZED (SELECT doc_id,
           CASE WHEN len(${TextExprs.toksSql("text")}) = 0 THEN NULL
             ELSE chr(31) || array_to_string(${TextExprs.toksSql("text")}, chr(31)) || chr(31)
           END AS ts
         FROM documents)"""

    /** one training round: recount on enc(i-1), pick the argmax, apply
      * the two-pass replace. r/enc are MATERIALIZED — each is referenced
      * several times and DuckDB would otherwise re-inline the chain
      * exponentially. */
    def roundSql(i: Int, excludeSelf: Boolean): String = {
      val selfF = if (excludeSelf) "WHERE tk[p] <> tk[p + 1]" else ""
      s"""bg$i AS (SELECT tk[p] AS t1, tk[p + 1] AS t2, COUNT(*) AS cnt
           FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS p
                 FROM (SELECT string_split(ts, chr(31))[2:-2] AS tk
                       FROM enc${i - 1} WHERE ts IS NOT NULL) q) x
           $selfF GROUP BY 1, 2),
         r$i AS MATERIALIZED (SELECT t1, t2, cnt FROM bg$i
           ORDER BY cnt DESC, t1, t2 LIMIT 1),
         enc$i AS MATERIALIZED (SELECT doc_id, replace(replace(enc${i - 1}.ts,
             chr(31)||r$i.t1||chr(31)||r$i.t2||chr(31),
             chr(31)||r$i.t1||chr(30)||r$i.t2||chr(31)),
             chr(31)||r$i.t1||chr(31)||r$i.t2||chr(31),
             chr(31)||r$i.t1||chr(30)||r$i.t2||chr(31)) AS ts
           FROM enc${i - 1} CROSS JOIN r$i)"""
    }

    /** corpus token total of one encoding CTE. */
    def ntSql(src: String): String =
      s"""(SELECT CAST(SUM(CASE WHEN ts IS NULL THEN 0 ELSE
          length(ts) - length(replace(ts, chr(31), '')) - 1 END) AS BIGINT)
          FROM $src)"""
  }

  // spec access to the private trainer (BpeSemanticsSpec pins the
  // checkpoint-cadence invariance the production row relies on)
  private[graft] def bpeTs0ForSpec: org.apache.spark.sql.Column = BpeTrain.ts0
  private[graft] def bpeTrainLoopForSpec(base: DataFrame, rounds: Int,
      excludeSelf: Boolean, checkpointEvery: Int, lookahead: Boolean = true)
      : (Seq[(String, String)], DataFrame) =
    BpeTrain.trainLoop(base, rounds, excludeSelf, checkpointEvery, lookahead)
  private[graft] def bpeCorpusToksForSpec(enc: DataFrame): Long =
    BpeTrain.corpusToks(enc)

  /** Misra-Gries heavy-hitter sketch of one partition's tokens: at most
    * `k` counters, and every token whose share of the partition exceeds
    * 1/(k+1) is among the returned candidates. */
  private[graft] def misraGries(it: Iterator[String], k: Int = 512): Iterator[String] = {
    val m = new java.util.HashMap[String, Long](k * 2)
    it.foreach { t =>
      if (m.containsKey(t)) m.put(t, m.get(t) + 1L)
      else if (m.size < k) m.put(t, 1L)
      else { // decrement-all step (amortized O(1): fires <= n/k times)
        val del = new java.util.ArrayList[String]()
        val e = m.entrySet().iterator()
        while (e.hasNext) {
          val kv = e.next()
          if (kv.getValue == 1L) del.add(kv.getKey)
          else kv.setValue(kv.getValue - 1L)
        }
        del.forEach(x => { m.remove(x): Unit })
      }
    }
    scala.jdk.CollectionConverters.IteratorHasAsScala(m.keySet().iterator()).asScala
  }

  override val defs: Seq[Q] = Seq(

    // HEAVY HITTERS (vocabulary head) via Misra-Gries sketch + exact
    // recount: every token with frequency > total/200, found with ONE
    // bounded-memory scan (k = 512 counters per partition) that yields a
    // candidate SUPERSET — the MG guarantee: a token with global
    // freq > n/(k+1) survives at least the partition where its local
    // share exceeds 1/(k+1), and 200 < k+1 = 513 — then one exact
    // aggregate over candidates only. The recount pass never groups the
    // full token stream: candidates are broadcast and non-candidates are
    // never shuffled. Oracle is the brute GROUP BY ... HAVING, so a hash
    // match proves the sketch lost nothing. This is the zipf-head
    // discovery a tokenizer/vocab pipeline runs at corpus scale, where
    // the full token group-by is the cost being avoided.
    Q("q_text_heavy_hitters",
      (s, d) => {
        import s.implicits._
        val tk = toks(s, d).select(col("tok"))
        val cands = tk.as[String].mapPartitions(misraGries(_))
          .toDF("tok").distinct()
        // total WITHOUT the explode: sum of per-doc token counts
        val total = docs(s, d)
          .agg(sum(size(TextExprs.toks(col("text"))))).head.getLong(0)
        tk.join(broadcast(cands), Seq("tok"))
          .groupBy("tok").agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") * 200 > total)
          .orderBy(desc("cnt"), asc("tok"))
      },
      Some(s"""WITH $toksSql,
              c AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
              n AS (SELECT COUNT(*) AS total FROM toks)
              SELECT tok, cnt FROM c, n WHERE cnt * 200 > total
              ORDER BY cnt DESC, tok""")),

    // token counting (whitespace/punct tokenizer). Two-level aggregate:
    // a single countDistinct mixed with plain aggregates would plan as an
    // Expand (row duplication ×2) over the exploded token relation — the
    // r2 driver bench showed that amplification at 16 s. Instead reduce
    // (doc_id, tok) first (map-side partial combine shrinks the explode
    // output before any shuffle), then roll up per doc: n_uniq is a plain
    // count, n_tokens/avg_len are exact integer sums — no Expand anywhere.
    Q("q_text_tokens",
      (s, d) => toks(s, d)
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_uniq"),
          round((sum(col("c") * length(col("tok"))) * 1.0 / sum(col("c"))), 4).as("avg_len"))
        .orderBy("doc_id"),
      Some(s"""WITH $toksSql
               SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS n_uniq,
                 ROUND(AVG(CAST(length(tok) AS DOUBLE)), 4) AS avg_len
               FROM toks GROUP BY doc_id ORDER BY doc_id""")),

    // Tokenizer-coverage analysis: induce the corpus vocabulary (top-100
    // tokens by frequency, ties to the lexicographically smaller token —
    // the deterministic analogue of a vocab-size cutoff) and measure each
    // document's out-of-vocabulary rate. The vocab is O(cutoff) and
    // BROADCAST against the token stream, so coverage scoring is one
    // corpus scan + the per-doc rollup — the QA pass run before freezing
    // a tokenizer on new data.
    Q("q_text_vocab_oov",
      (s, d) => {
        val tf = toks(s, d).groupBy("tok").agg(count(lit(1)).as("c"))
        // orderBy+limit plans as TakeOrderedAndProject (per-partition
        // partial top-k, no single-partition sort of the whole vocabulary)
        val vocab = tf.orderBy(desc("c"), asc("tok")).limit(100)
          .select(col("tok").as("vtok"))
        toks(s, d)
          .join(broadcast(vocab), col("tok") === col("vtok"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("vtok").isNull, 1L).otherwise(0L)).as("n_oov"))
          .select(col("doc_id"), col("n_tokens"), col("n_oov"),
            round(col("n_oov") * 1.0 / col("n_tokens"), 6).as("oov_rate"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $toksSql,
               vocab AS (SELECT tok FROM (
                 SELECT tok, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS r
                 FROM toks GROUP BY tok) t WHERE r <= 100),
               j AS (SELECT t.doc_id,
                 CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
                 FROM toks t LEFT JOIN vocab v ON v.tok = t.tok)
               SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(oov) AS BIGINT) AS n_oov,
                 ROUND(SUM(oov) * 1.0 / COUNT(*), 6) AS oov_rate
               FROM j GROUP BY doc_id ORDER BY doc_id""")),

    // language ID: stopword-hit argmax per document
    Q("q_text_langid",
      (s, d) => {
        val lex = s.createDataFrame(lexicon).toDF("lang", "w")
        val hits = toks(s, d).join(broadcast(lex), col("tok") === col("w"))
          .groupBy("doc_id", "lang").agg(count(lit(1)).as("score"))
        val w = Window.partitionBy(col("doc_id")).orderBy(desc("score"), asc("lang"))
        val best = hits.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("doc_id"), col("lang"), col("score"))
        Tables(s, d, "documents").select(col("doc_id"))
          .join(best, Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("lang"), lit("unknown")).as("pred_lang"),
            coalesce(col("score"), lit(0L)).as("score"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $toksSql,
               lex(lang, w) AS (VALUES $lexiconSql),
               hits AS (SELECT doc_id, lang, COUNT(*) AS score
                 FROM toks JOIN lex ON tok = w GROUP BY doc_id, lang),
               best AS (SELECT doc_id, lang, score FROM hits
                 QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY score DESC, lang) = 1)
               SELECT d.doc_id, COALESCE(b.lang, 'unknown') AS pred_lang,
                 COALESCE(b.score, 0) AS score
               FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
               ORDER BY d.doc_id""")),

    // Sentence segmentation statistics (readability family): sentences =
    // non-empty [.!?]-delimited spans, mean sentence length in word
    // tokens — the structural signal quality classifiers consume beside
    // the character ratios. Pure in-row projection, zero shuffle; the
    // avg divides two exact integers, so round-4 is engine-identical.
    Q("q_text_sentences",
      (s, d) => docs(s, d)
        .select(col("doc_id"),
          expr("size(filter(transform(split(text, '[.!?]+'), x -> trim(x)), x -> x != ''))")
            .cast("long").as("n_sentences"),
          size(TextExprs.toks(col("text"))).cast("long").as("n_words"))
        .select(col("doc_id"), col("n_sentences"), col("n_words"),
          when(col("n_sentences") > 0,
            round(col("n_words") * 1.0 / col("n_sentences"), 4))
            .otherwise(0.0).as("avg_sentence_words"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
                CAST(len(list_filter(list_transform(
                  string_split_regex(text, '[.!?]+'), x -> trim(x)),
                  x -> x <> '')) AS BIGINT) AS n_sentences,
                CAST(len(${TextExprs.toksSql("text")}) AS BIGINT) AS n_words,
                CASE WHEN len(list_filter(list_transform(
                    string_split_regex(text, '[.!?]+'), x -> trim(x)),
                    x -> x <> '')) > 0
                  THEN ROUND(len(${TextExprs.toksSql("text")}) * 1.0 /
                    len(list_filter(list_transform(
                      string_split_regex(text, '[.!?]+'), x -> trim(x)),
                      x -> x <> '')), 4)
                  ELSE 0.0 END AS avg_sentence_words
              FROM documents ORDER BY doc_id""")),

    // READABILITY SCORING (Flesch reading-ease + Flesch-Kincaid grade):
    // the classic length-free complexity signal a curation pipeline ranks
    // beside the quality score — a corpus skewed toward degenerate
    // grade-20 text is as suspect as one full of boilerplate. Words reuse
    // the module's token convention, sentences the shared [.!?]+ split,
    // and syllables are approximated as vowel GROUPS ([aeiouy]+ runs over
    // the lowercased text) — the standard regex proxy, identical pattern
    // on both engines. Denominators clamp at 1 (greatest) so empty docs
    // score instead of raising ANSI division errors. Pure per-row
    // projection: zero shuffles beyond the final presentation sort.
    // ENCODING-QUALITY gate (mojibake filter): replacement-character
    // (U+FFFD) density per document — the scan that catches a feed whose
    // decoder already destroyed the bytes (a corrupted doc is
    // unfilterable downstream: the damage IS the replacement chars). The
    // testdata carries clean text, so the row STAGES its own casualties
    // (the q_dedup_normalized recipe): every 15th doc re-enters with its
    // 'e's decoded to U+FFFD, id-offset so both populations are scored
    // side by side. Pure projection — scan-local at any corpus size.
    // The Spark side builds U+FFFD from a Scala literal: Spark's
    // chr(65533) is mod-256 (= 253, 'ý'), so a chr-based scan would
    // stage and count the WRONG character and never detect real
    // replacement-char mojibake (ADVICE r12); DuckDB's chr(65533) is
    // the true codepoint, so the oracle keeps it.
    Q("q_text_mojibake",
      (s, d) => {
        val repl = "\uFFFD" // U+FFFD REPLACEMENT CHARACTER
        val base = docs(s, d).select(col("doc_id"), col("text"))
        val staged = base.unionByName(
          base.filter(col("doc_id") % 15 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"),
              translate(col("text"), "e", repl).as("text")))
        staged.select(col("doc_id"),
            length(col("text")).cast("long").as("n_chars"),
            (length(col("text")) -
              length(translate(col("text"), repl, "")))
              .cast("long").as("n_repl"))
          .withColumn("repl_density",
            round(col("n_repl") * 1.0 / greatest(col("n_chars"), lit(1L)), 6))
          .withColumn("mojibake", col("n_repl") * 100 > col("n_chars")) // > 1%
          .orderBy("doc_id")
      },
      Some("""WITH staged AS (SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000, replace(text, 'e', chr(65533))
                FROM documents WHERE doc_id % 15 = 0)
              SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
                CAST(length(text) - length(replace(text, chr(65533), ''))
                  AS BIGINT) AS n_repl,
                ROUND((length(text) - length(replace(text, chr(65533), '')))
                  * 1.0 / GREATEST(length(text), 1), 6) AS repl_density,
                (length(text) - length(replace(text, chr(65533), ''))) * 100
                  > length(text) AS mojibake
              FROM staged ORDER BY doc_id""")),

    Q("q_text_readability",
      (s, d) => docs(s, d)
        .select(col("doc_id"),
          size(TextExprs.toks(col("text"))).cast("long").as("n_words"),
          expr("size(filter(transform(split(text, '[.!?]+'), x -> trim(x)), x -> x != ''))")
            .cast("long").as("n_sentences"),
          expr("size(regexp_extract_all(lower(text), '[aeiouy]+', 0))")
            .cast("long").as("n_syllables"))
        .select(col("doc_id"), col("n_words"), col("n_sentences"),
          col("n_syllables"),
          round(lit(206.835) -
            lit(1.015) * (col("n_words") * lit(1.0) / greatest(col("n_sentences"), lit(1L))) -
            lit(84.6) * (col("n_syllables") * lit(1.0) / greatest(col("n_words"), lit(1L))), 4)
            .as("flesch"),
          round(lit(0.39) * (col("n_words") * lit(1.0) / greatest(col("n_sentences"), lit(1L))) +
            lit(11.8) * (col("n_syllables") * lit(1.0) / greatest(col("n_words"), lit(1L))) -
            lit(15.59), 4).as("fk_grade"))
        .orderBy("doc_id"),
      Some(s"""WITH m AS (SELECT doc_id,
                CAST(len(${TextExprs.toksSql("text")}) AS BIGINT) AS n_words,
                CAST(len(list_filter(list_transform(
                  string_split_regex(text, '[.!?]+'), x -> trim(x)),
                  x -> x <> '')) AS BIGINT) AS n_sentences,
                CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
                  AS n_syllables
                FROM documents)
              SELECT doc_id, n_words, n_sentences, n_syllables,
                ROUND(206.835
                  - 1.015 * (n_words * 1.0 / GREATEST(n_sentences, 1))
                  - 84.6 * (n_syllables * 1.0 / GREATEST(n_words, 1)), 4) AS flesch,
                ROUND(0.39 * (n_words * 1.0 / GREATEST(n_sentences, 1))
                  + 11.8 * (n_syllables * 1.0 / GREATEST(n_words, 1))
                  - 15.59, 4) AS fk_grade
              FROM m ORDER BY doc_id""")),

    // EXTRACTIVE SUMMARY (tf-idf density): each document's single most
    // informative sentence — sentences scored by the MEAN corpus IDF of
    // their distinct tokens (density, not sum, so long sentences don't
    // win by length), ties broken by position. The classic one-sentence
    // summarization baseline a curation pipeline runs to preview/label
    // documents at scale: one corpus DF aggregate (shared shape with
    // tf-idf), one sentence explode bounded by the document, one
    // (doc, sentence) hash aggregate — no pairwise sentence work.
    Q("q_text_summary",
      (s, d) => {
        val sents = docs(s, d).select(col("doc_id"), posexplode(expr(
            "filter(transform(split(text, '[.!?]+'), x -> trim(x)), x -> x != '')")))
          .select(col("doc_id"), col("pos").cast("long").as("sent_pos"),
            col("col").as("sentence"))
        val stoks = sents.select(col("doc_id"), col("sent_pos"), col("sentence"),
          explode(array_distinct(TextExprs.toks(col("sentence")))).as("tok"))
        val nd = docs(s, d).agg(count(lit(1)).cast("double").as("nd"))
        val dfRel = toks(s, d).select("doc_id", "tok").distinct()
          .groupBy("tok").agg(count(lit(1)).as("df"))
        stoks.join(dfRel, "tok")
          .crossJoin(broadcast(nd))
          .groupBy("doc_id", "sent_pos", "sentence")
          .agg(round(avg(log(col("nd") / col("df"))), 6).as("score"))
          .withColumn("rk", row_number().over(Window.partitionBy("doc_id")
            .orderBy(desc("score"), asc("sent_pos"))))
          .filter(col("rk") === 1).drop("rk")
          .orderBy("doc_id")
      },
      Some(s"""WITH $toksSql,
              nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM documents),
              dfr AS (SELECT tok, COUNT(DISTINCT doc_id) AS df
                FROM toks GROUP BY tok),
              sents AS (SELECT doc_id,
                  CAST(generate_subscripts(l, 1) - 1 AS BIGINT) AS sent_pos,
                  unnest(l) AS sentence
                FROM (SELECT doc_id, list_filter(list_transform(
                    string_split_regex(text, '[.!?]+'), x -> trim(x)),
                    x -> x <> '') AS l FROM documents) t),
              stoks AS (SELECT DISTINCT * FROM (
                SELECT doc_id, sent_pos, sentence,
                  unnest(${TextExprs.toksSql("sentence")}) AS tok FROM sents) u)
              SELECT doc_id, sent_pos, sentence,
                ROUND(AVG(ln(nd / df)), 6) AS score
              FROM stoks JOIN dfr USING (tok) CROSS JOIN nd
              GROUP BY 1, 2, 3
              QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY score DESC, sent_pos) = 1
              ORDER BY doc_id""")),

    // quality scoring: character-class ratios. Denominators are
    // greatest(len, 1) — Spark 4's default ANSI mode would otherwise
    // throw DIVIDE_BY_ZERO on an empty document (see TextExprs).
    Q("q_text_quality",
      (s, d) => {
        val den = greatest(length(col("text")), lit(1))
        docs(s, d).select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          round(length(regexp_replace(col("text"), "[^a-z]", "")) * 1.0 / den, 6).as("alpha_ratio"),
          round(length(regexp_replace(col("text"), "[^ ]", "")) * 1.0 / den, 6).as("space_ratio"),
          round(length(regexp_replace(col("text"), "[^0-9]", "")) * 1.0 / den, 6).as("digit_ratio"),
          round(TextExprs.qualityScore(col("text")), 6).as("quality"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
              ROUND(length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 / greatest(length(text), 1), 6) AS alpha_ratio,
              ROUND(length(regexp_replace(text, '[^ ]', '', 'g')) * 1.0 / greatest(length(text), 1), 6) AS space_ratio,
              ROUND(length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / greatest(length(text), 1), 6) AS digit_ratio,
              ROUND(${TextExprs.qualityScoreSql("text")}, 6) AS quality
              FROM documents ORDER BY doc_id""")),

    // TF-IDF (SURVEY.md §7 step 8): tf × ln(N/df), top-3 terms per doc.
    // All shuffle-parallel; the N-docs scalar rides a broadcast cross join.
    Q("q_text_tfidf",
      (s, d) => {
        val tf = toks(s, d).groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
          .localCheckpoint() // compute tf once; feeds both df agg and the scored join
        // document frequency as groupBy + equi-join, NOT a count window:
        // a window partitioned by tok puts a stopword's whole group
        // (O(corpus docs)) in ONE task — the hot-key straggler at 100×.
        // The groupBy is map-side-combined to O(vocab) rows before the
        // shuffle, and the join back is a plain shuffle join (AQE turns
        // it broadcast when vocab is small). localCheckpoint keeps the
        // compute-tf-once property the window shape was chosen for.
        val dfreq = tf.groupBy("tok").agg(count(lit(1)).cast("double").as("df"))
        val nDf = Tables(s, d, "documents").agg(count(lit(1)).cast("double").as("nd"))
        val scored = tf
          .join(dfreq, "tok")
          .crossJoin(broadcast(nDf))
          .select(col("doc_id"), col("tok"),
            round(col("tf") * log(col("nd") / col("df")), 6).as("tfidf"))
        val w = Window.partitionBy(col("doc_id")).orderBy(desc("tfidf"), asc("tok"))
        val out = scored.withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select(col("doc_id"), col("rn"), col("tok"), col("tfidf"))
          .orderBy("doc_id", "rn").localCheckpoint()
        graft.plans.Iterate.release(tf)
        out
      },
      Some(s"""WITH $toksSql,
               tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
               dfreq AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok),
               nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM documents),
               scored AS (SELECT doc_id, tok, ROUND(tf * LN(nd.nd / df), 6) AS tfidf
                 FROM tf JOIN dfreq USING (tok) CROSS JOIN nd)
               SELECT doc_id, rn, tok, tfidf FROM (
                 SELECT doc_id, tok, tfidf,
                   CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                     ORDER BY tfidf DESC, tok) AS BIGINT) AS rn
                 FROM scored) t
               WHERE rn <= 3 ORDER BY doc_id, rn""")),

    // HEAPS'-LAW FIT: vocabulary growth V(n) ≈ K·n^β over the corpus in
    // doc_id order — the curve that says how much NEW vocabulary each
    // additional terabyte of corpus buys (sublinear β ≈ 0.4-0.6 for
    // natural text; β near 1 flags synthetic/ID-heavy content). The
    // cumulative-distinct is the first-occurrence trick (a token's
    // min doc_id marks the one doc where it increments V), so the
    // whole curve is two hash aggregates + one global ordered cumsum —
    // run through RangedRank (seventh consumer) since a corpus-length
    // ordered window is exactly the single-task shape this round
    // removed. Output: log-log OLS slope β and intercept K.
    Q("q_text_heaps",
      (s, d) => {
        val tk = toks(s, d)
        val perDoc = tk.groupBy("doc_id").agg(count(lit(1)).as("ntok"))
        val newV = tk.groupBy("tok").agg(min("doc_id").as("doc_id"))
          .groupBy("doc_id").agg(count(lit(1)).as("nv"))
        val base = docs(s, d).select("doc_id")
          .join(perDoc, Seq("doc_id"), "left")
          .join(newV, Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("ntok"), lit(0L)).as("ntok"),
            coalesce(col("nv"), lit(0L)).as("nv"))
        val cum = RangedRank.withRunningTotals(base, Seq.empty, Seq("doc_id"),
          Seq("ntok" -> "n", "nv" -> "v"))
        val pts = cum.filter(col("n") > 0 && col("v") > 0)
          .select(log(col("n").cast("double")).as("x"),
            log(col("v").cast("double")).as("y"))
        val beta = (col("mxy") - col("mx") * col("my")) /
          (col("mxx") - col("mx") * col("mx"))
        pts.agg(count(lit(1)).cast("double").as("m"),
            avg("x").as("mx"), avg("y").as("my"),
            avg(col("x") * col("x")).as("mxx"), avg(col("x") * col("y")).as("mxy"))
          .select(col("m").cast("long").as("n_points"),
            round(beta, 6).as("beta"),
            round(exp(col("my") - beta * col("mx")), 6).as("k"))
      },
      Some(s"""WITH $toksSql,
              perdoc AS (SELECT doc_id, COUNT(*) AS ntok FROM toks GROUP BY doc_id),
              firsttok AS (SELECT tok, MIN(doc_id) AS doc_id FROM toks GROUP BY tok),
              newv AS (SELECT doc_id, COUNT(*) AS nv FROM firsttok GROUP BY doc_id),
              base AS (SELECT d.doc_id, COALESCE(p.ntok, 0) AS ntok,
                  COALESCE(v.nv, 0) AS nv
                FROM (SELECT doc_id FROM documents) d
                LEFT JOIN perdoc p USING (doc_id) LEFT JOIN newv v USING (doc_id)),
              cum AS (SELECT doc_id,
                  SUM(ntok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS n,
                  SUM(nv) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS v
                FROM base),
              pts AS (SELECT LN(n) AS x, LN(v) AS y FROM cum WHERE n > 0 AND v > 0),
              agg AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m, AVG(x) AS mx,
                  AVG(y) AS my, AVG(x * x) AS mxx, AVG(x * y) AS mxy FROM pts)
              SELECT CAST(m AS BIGINT) AS n_points,
                ROUND((mxy - mx * my) / (mxx - mx * mx), 6) AS beta,
                ROUND(EXP(my - (mxy - mx * my) / (mxx - mx * mx) * mx), 6) AS k
              FROM agg""")),

    // deterministic stratified sampling (training-data mixture control):
    // per-stratum keep rates decided by a PORTABLE hash draw — the first
    // two md5 hex chars of the doc id compared against a per-stratum
    // threshold. Hash-based sampling is reproducible across engines,
    // partitionings and reruns (rand(seed) fixes only per-partition
    // streams), which is what makes a 100 TB sample auditable: any engine
    // can re-derive exactly which rows were kept. Strata here: source
    // index % 3 → 25% / 50% / 75% target rates.
    Q("q_text_sample",
      (s, d) => {
        val draw = TextExprs.hashDraw(col("doc_id"))
        val thr = when(substring(col("source"), 4, 10).cast("int") % 3 === 0, lit("40"))
          .when(substring(col("source"), 4, 10).cast("int") % 3 === 1, lit("80"))
          .otherwise(lit("c0"))
        docs(s, d)
          .select(col("doc_id"), col("source"), (draw < thr).as("kept"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, source,
              ${TextExprs.hashDrawSql("doc_id")} <
                CASE CAST(substr(source, 4) AS INT) % 3
                  WHEN 0 THEN '40' WHEN 1 THEN '80' ELSE 'c0' END AS kept
              FROM documents ORDER BY doc_id""")),

    // N-GRAM NOVELTY curve: per document (in ingest order), the fraction
    // of its distinct 3-grams appearing for the FIRST time — the
    // diminishing-returns readout that tells a crawl when more of the
    // same source stops adding information. First-occurrence owner =
    // min(doc_id) per gram (one aggregate over the gram relation), then
    // one join back: near-dup documents show near-zero novelty, which is
    // the dedup connection. O(grams) throughout.
    Q("q_text_novelty",
      (s, d) => {
        // r7 plan: a gram is novel for exactly ONE doc (its min), so
        // n_novel per doc is a COUNT over the gram-minima relation —
        // no corpus-scale gram-keyed join back onto g (the r6 plan
        // shuffled the gram relation twice and joined it against its
        // own aggregate; this one runs two independent hash aggregates
        // and joins only doc-level rows)
        val g = docs(s, d).select(col("doc_id"),
          explode(graft.functions.TextHash.distinctNGrams(
            TextExprs.toks(col("text")), 3)).as("gram"))
          .localCheckpoint() // shared by both aggregates, built once
        val sizes = g.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
        val novel = g.groupBy("gram").agg(min("doc_id").as("doc_id"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
        val out = sizes.join(novel, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_grams"),
            coalesce(col("n_novel"), lit(0L)).as("n_novel"),
            round(coalesce(col("n_novel"), lit(0L)) * 1.0 / col("n_grams"), 6)
              .as("novelty"))
          .orderBy("doc_id")
          .localCheckpoint()
        graft.plans.Iterate.release(g)
        out
      },
      Some(s"""WITH base AS (SELECT doc_id, ${TextExprs.toksSql("text")} AS tk FROM documents),
              g AS (SELECT DISTINCT doc_id, array_to_string(tk[p:p + 2], ' ') AS gram
                    FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS p
                          FROM base) t),
              f AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram)
              SELECT g.doc_id, COUNT(*) AS n_grams,
                CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
                ROUND(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) * 1.0
                  / COUNT(*), 6) AS novelty
              FROM g JOIN f USING (gram)
              GROUP BY g.doc_id ORDER BY g.doc_id""")),

    // CONFUSION matrix of the heuristic language-ID against the labeled
    // lang column — the evaluation rollup that closes the langid loop
    // (near-uniform here because the labels are random w.r.t. the text;
    // the computation shape is what a real corpus reuses). One join +
    // one tiny aggregate over the declared langid plan.
    Q("q_text_langid_confusion",
      (s, d) => graft.SparkEntry.queries("q_text_langid")(s, d)
        .join(Tables(s, d, "documents").select(col("doc_id"), col("lang").as("actual")),
          Seq("doc_id"))
        .groupBy("actual", "pred_lang").agg(count(lit(1)).as("cnt"))
        .orderBy("actual", "pred_lang"),
      Some(s"""WITH $toksSql,
               lex(lang, w) AS (VALUES $lexiconSql),
               hits AS (SELECT doc_id, lang, COUNT(*) AS score
                 FROM toks JOIN lex ON tok = w GROUP BY doc_id, lang),
               best AS (SELECT doc_id, lang, score FROM hits
                 QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY score DESC, lang) = 1)
               SELECT d.lang AS actual, COALESCE(b.lang, 'unknown') AS pred_lang,
                 COUNT(*) AS cnt
               FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
               GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ZIPF rank-frequency fit: log-log OLS over the top-100 token ranks
    // — natural corpora slope near −1, so a far-off slope flags
    // synthetic/templated text (as here). The top-k relation is a
    // TakeOrdered partial top-k; the regression is six sums over 100
    // rows with the identical formula shape both sides (the autocorr
    // recipe), so the whole fit is O(vocab) + O(k).
    Q("q_text_zipf",
      (s, d) => {
        val w = Window.orderBy(desc("c"), asc("tok"))
        val top = toks(s, d).groupBy("tok").agg(count(lit(1)).as("c"))
          .orderBy(desc("c"), asc("tok")).limit(100)
          .withColumn("r", row_number().over(w))
          .select(log(col("r").cast("double")).as("x"),
            log(col("c").cast("double")).as("y"))
        top.agg(count(lit(1)).as("n"),
            round(sum("x"), 6).as("sx"), round(sum("y"), 6).as("sy"),
            round(sum(col("x") * col("y")), 6).as("sxy"),
            round(sum(col("x") * col("x")), 6).as("sxx"))
          .select(col("n"),
            round((col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
            round((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) /
              col("n"), 6).as("intercept"))
      },
      Some(s"""WITH $toksSql,
              top AS (SELECT tok, COUNT(*) AS c,
                ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS r
                FROM toks GROUP BY tok ORDER BY c DESC, tok LIMIT 100),
              xy AS (SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
                     FROM top),
              sums AS (SELECT COUNT(*) AS n,
                ROUND(SUM(x), 6) AS sx, ROUND(SUM(y), 6) AS sy,
                ROUND(SUM(x * y), 6) AS sxy, ROUND(SUM(x * x), 6) AS sxx
                FROM xy)
              SELECT n,
                ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
                ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
                  AS intercept
              FROM sums""")),

    // JENSEN-SHANNON divergence between every source pair's unigram
    // distributions — the corpus drift/mixture audit ("which sources
    // speak the same language?"), symmetric and bounded in [0, ln 2]
    // unlike raw KL. Per-source probabilities from one token aggregate;
    // the (pair × vocab) grid is bounded by |sources|²·|vocab| (sources
    // are few by construction in a mixture audit); zero-probability
    // terms contribute exactly 0 via the same CASE on both engines, and
    // probabilities round at 9 before the log terms so the value lattice
    // is shared.
    Q("q_text_js_divergence",
      (s, d) => {
        val probs = toks(s, d)
          .join(Tables(s, d, "documents").select("doc_id", "source"), Seq("doc_id"))
          .groupBy("source", "tok").agg(count(lit(1)).as("c"))
          .withColumn("p", round(col("c") /
            sum("c").over(Window.partitionBy("source")), 9))
          .select("source", "tok", "p")
          .localCheckpoint()
        val srcs = probs.select("source").distinct()
        val pairs = srcs.as("a").join(srcs.withColumnRenamed("source", "s2").as("b"),
          col("a.source") < col("b.s2"))
          .select(col("a.source").as("s1"), col("s2"))
        val vocab = probs.select("tok").distinct()
        val grid = pairs.join(vocab)
          .join(probs.select(col("source").as("s1"), col("tok"), col("p").as("p1")),
            Seq("s1", "tok"), "left")
          .join(probs.select(col("source").as("s2"), col("tok"), col("p").as("p2")),
            Seq("s2", "tok"), "left")
          .select(col("s1"), col("s2"),
            coalesce(col("p1"), lit(0.0)).as("p1"),
            coalesce(col("p2"), lit(0.0)).as("p2"))
        val out = grid
          .withColumn("t1", when(col("p1") > 0,
            col("p1") * log(lit(2.0) * col("p1") / (col("p1") + col("p2"))))
            .otherwise(lit(0.0)))
          .withColumn("t2", when(col("p2") > 0,
            col("p2") * log(lit(2.0) * col("p2") / (col("p1") + col("p2"))))
            .otherwise(lit(0.0)))
          .groupBy("s1", "s2")
          .agg(round(lit(0.5) * sum("t1") + lit(0.5) * sum("t2"), 6).as("js"))
          .orderBy("s1", "s2")
          .localCheckpoint()
        graft.plans.Iterate.release(probs)
        out
      },
      Some(s"""WITH $toksSql,
              st AS (SELECT t.doc_id, d.source, t.tok FROM toks t
                     JOIN documents d ON d.doc_id = t.doc_id),
              probs AS (SELECT source, tok,
                ROUND(COUNT(*) / SUM(COUNT(*)) OVER (PARTITION BY source), 9) AS p
                FROM st GROUP BY source, tok),
              srcs AS (SELECT DISTINCT source FROM probs),
              pairs AS (SELECT a.source AS s1, b.source AS s2
                        FROM srcs a JOIN srcs b ON a.source < b.source),
              vocab AS (SELECT DISTINCT tok FROM probs),
              grid AS (SELECT p.s1, p.s2, v.tok,
                COALESCE(p1.p, 0.0) AS p1, COALESCE(p2.p, 0.0) AS p2
                FROM pairs p CROSS JOIN vocab v
                LEFT JOIN probs p1 ON p1.source = p.s1 AND p1.tok = v.tok
                LEFT JOIN probs p2 ON p2.source = p.s2 AND p2.tok = v.tok)
              SELECT s1, s2, ROUND(
                0.5 * SUM(CASE WHEN p1 > 0
                  THEN p1 * ln(2.0 * p1 / (p1 + p2)) ELSE 0.0 END) +
                0.5 * SUM(CASE WHEN p2 > 0
                  THEN p2 * ln(2.0 * p2 / (p1 + p2)) ELSE 0.0 END), 6) AS js
              FROM grid GROUP BY s1, s2 ORDER BY s1, s2""")),

    // COUNT-MIN sketch frequency estimation: depth-4 × width-64 sketch
    // over the token stream with portable md5-derived hash rows, then
    // point estimates (min over rows) for the top-20 exact tokens beside
    // their true counts — the mergeable fixed-memory frequency structure
    // beside the HLL distinct sketch. The sketch build is ONE hash
    // aggregate of 4·|tokens| thin rows into 256 cells (mergeable across
    // shards by cell-wise +); the oracle states the identical sketch
    // longhand, so estimates match EXACTLY, and the overestimate column
    // exhibits the CMS guarantee (est >= exact, checked in spec).
    Q("q_agg_countmin",
      (s, d) => {
        // r7 plan: reduce to the (tok, count) relation FIRST, so md5
        // work is per VOCAB ENTRY, not per occurrence, and all 4 hash
        // rows come from SLICES of one digest (the MinHashSig
        // 4-values-per-digest trick). The r6 shape scanned the raw
        // stream twice and paid 4 digests per token occurrence.
        val tf = toks(s, d).groupBy("tok").agg(count(lit(1)).as("exact"))
          .localCheckpoint() // feeds the sketch build AND the top-20 probes
        val rows4 =
          """transform(sequence(0, 3), j ->
             named_struct('j', j,
               'bucket', CAST(conv(substring(md5(tok), 4 * j + 1, 4), 16, 10) AS INT) % 64))"""
        val cells = tf.select(col("exact"), explode(expr(rows4)).as("c"))
          .groupBy(col("c.j").as("j"), col("c.bucket").as("bucket"))
          .agg(sum("exact").as("cnt"))
          .localCheckpoint() // 256 rows, reused by every estimate probe
        val top = tf.orderBy(desc("exact"), asc("tok")).limit(20)
        val probes = top.select(col("tok"), col("exact"), explode(expr(rows4)).as("p"))
          .select(col("tok"), col("exact"), col("p.j").as("j"), col("p.bucket").as("bucket"))
        val out = probes.join(broadcast(cells), Seq("j", "bucket"))
          .groupBy("tok", "exact").agg(min("cnt").as("est"))
          .select(col("tok"), col("exact"), col("est"),
            (col("est") - col("exact")).as("overest"))
          .orderBy(desc("exact"), asc("tok")).localCheckpoint()
        graft.plans.Iterate.release(tf)
        out
      },
      Some(s"""WITH $toksSql,
              tf AS (SELECT tok, COUNT(*) AS exact FROM toks GROUP BY tok),
              hx AS (SELECT tok, exact, j,
                  CAST(CAST('0x' || substring(md5(tok), 4 * j + 1, 4) AS BIGINT) AS INT) % 64 AS bucket
                FROM tf CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) js),
              cells AS (SELECT j, bucket, SUM(exact) AS cnt FROM hx GROUP BY 1, 2),
              top AS (SELECT tok, exact FROM tf ORDER BY exact DESC, tok LIMIT 20),
              probes AS (SELECT h.tok, h.exact, h.j, h.bucket
                FROM hx h JOIN top USING (tok)),
              est AS (SELECT p.tok, p.exact, MIN(c.cnt) AS est
                FROM probes p JOIN cells c ON c.j = p.j AND c.bucket = p.bucket
                GROUP BY p.tok, p.exact)
              SELECT tok, exact, CAST(est AS BIGINT) AS est,
                CAST(est - exact AS BIGINT) AS overest
              FROM est ORDER BY exact DESC, tok""")),

    // Deterministic TRAIN/VAL/TEST split (the hash-draw applied to the
    // standard 3-way partition): the md5 draw buckets ~90/5/5 by hex
    // range, so the split is engine/partitioning-independent and any
    // worker can recompute membership without a lookup table — the
    // property that makes a 100 TB split reproducible forever. Per-split
    // counts + token totals in one aggregate.
    Q("q_text_split",
      (s, d) => {
        val draw = TextExprs.hashDraw(col("doc_id"))
        val split = when(draw < "e6", "train")
          .when(draw < "f3", "val").otherwise("test")
        docs(s, d)
          .select(split.as("split"), size(TextExprs.toks(col("text"))).as("toks"))
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"))
          .orderBy("split")
      },
      Some(s"""SELECT CASE
                WHEN ${TextExprs.hashDrawSql("doc_id")} < 'e6' THEN 'train'
                WHEN ${TextExprs.hashDrawSql("doc_id")} < 'f3' THEN 'val'
                ELSE 'test' END AS split,
              COUNT(*) AS n_docs,
              CAST(SUM(len(${TextExprs.toksSql("text")})) AS BIGINT) AS n_tokens
              FROM documents GROUP BY 1 ORDER BY 1""")),

    // Cross-SOURCE near-duplicate audit: the exact similarity-join pairs
    // (q_dedup_ppjoin, Jaccard >= 0.6) whose two documents come from
    // DIFFERENT sources — the provenance question ("which mirrors carry
    // this content?") that within-source dedup never answers. On this
    // corpus nearly every near-dup crosses sources (the staged dups are
    // mirror-style), while byte-exact cross-source dups are zero — which
    // is exactly why the audit must run on the near-dup relation. Two
    // O(pairs) joins on top of the exact join's plan.
    Q("q_dedup_cross_source",
      (s, d) => {
        val src = Tables(s, d, "documents").select(col("doc_id"), col("source"))
        graft.SparkEntry.queries("q_dedup_ppjoin")(s, d)
          .join(src.select(col("doc_id").as("doc_a"), col("source").as("source_a")), Seq("doc_a"))
          .join(src.select(col("doc_id").as("doc_b"), col("source").as("source_b")), Seq("doc_b"))
          .filter(col("source_a") =!= col("source_b"))
          .select(col("doc_a"), col("doc_b"), col("source_a"), col("source_b"), col("jac"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH base AS (SELECT doc_id, ${TextExprs.toksSql("text")} AS tk FROM documents),
              g AS (SELECT DISTINCT doc_id, array_to_string(tk[p:p + 2], ' ') AS gram
                    FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS p
                          FROM base) t),
              n AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
              i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
                    FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
              SELECT i.doc_a, i.doc_b, da.source AS source_a, db.source AS source_b,
                ROUND(inter * 1.0 / (na.n + nb.n - inter), 6) AS jac
              FROM i JOIN n na ON i.doc_a = na.doc_id JOIN n nb ON i.doc_b = nb.doc_id
              JOIN documents da ON da.doc_id = i.doc_a
              JOIN documents db ON db.doc_id = i.doc_b
              WHERE 5 * inter >= 3 * (na.n + nb.n - inter)
                AND da.source <> db.source
              ORDER BY i.doc_a, i.doc_b""")),

    // WEIGHTED sampling without replacement (Efraimidis–Spirakis): key
    // k = ln(u)/w with a portable md5-derived uniform u and weight w =
    // n_chars (stand-in for a quality score) — top-k by key IS a weighted
    // sample, computed as one projection + one tiny top-k, reproducible
    // across engines and partitionings like q_text_sample's hash draw.
    // This is the "sample the corpus proportional to quality" curation
    // step, without replacement and without a global RNG.
    Q("q_text_weighted_sample",
      (s, d) => {
        val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
          .cast("long") + lit(1L)) / lit(16777217.0)
        val key = log(u) / col("n_chars")
        docs(s, d)
          .select(col("doc_id"), col("n_chars"), key.as("k"))
          .orderBy(desc("k"), asc("doc_id"))
          .limit(20)
          .select(col("doc_id"), col("n_chars"), round(col("k"), 9).as("es_key"))
      },
      Some("""WITH k AS (SELECT doc_id, n_chars,
                ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT)
                    + 1) / 16777217.0) / n_chars AS k
                FROM documents)
              SELECT doc_id, n_chars, ROUND(k, 9) AS es_key
              FROM k ORDER BY k DESC, doc_id LIMIT 20""")),

    // document fingerprint: md5 of normalized content + duplicate-cluster size
    Q("q_text_fingerprint",
      (s, d) => {
        val fp = docs(s, d).select(col("doc_id"),
          md5(regexp_replace(lower(col("text")), "[^a-z0-9]", "")).as("fp"))
        val w = Window.partitionBy(col("fp"))
        fp.withColumn("cluster_size", count(lit(1)).over(w))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, fp, cluster_size FROM (
                SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp,
                       COUNT(*) OVER (PARTITION BY
                         md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))) AS cluster_size
                FROM documents) t ORDER BY doc_id""")),

    // REPETITION signals (the Gopher-rules quality family): a document
    // whose mass concentrates in one n-gram, or whose n-grams mostly
    // repeat, is boilerplate/spam. Per doc: top-word share, top-bigram
    // share, and the duplicate fraction of overlapping 4-grams. ONE pass:
    // the three gram families explode together as tagged (typ, gram)
    // structs, reduce as (doc, typ, gram) partial-combining counts, roll
    // up per (doc, typ), and pivot to columns with conditional aggregates
    // — three separate pipelines + two doc-keyed joins would tokenize the
    // corpus three times. All three groupings are satisfied by the
    // doc_id clustering the scan already has, so no extra exchange
    // appears anywhere. Docs lacking any family (< 4 tokens) are dropped,
    // matching the oracle's inner joins.
    Q("q_text_repetition",
      (s, d) => {
        val base = docs(s, d).select(col("doc_id"), TextExprs.toks(col("text")).as("tk"))
        val empty = "CAST(array() AS ARRAY<STRUCT<typ: STRING, gram: STRING>>)"
        def windowed(w: Int, tag: String) =
          s"""CASE WHEN size(tk) >= $w THEN transform(sequence(0, size(tk) - $w),
                i -> named_struct('typ', '$tag', 'gram', array_join(slice(tk, i + 1, $w), ' ')))
              ELSE $empty END"""
        base.select(col("doc_id"), explode(expr(
            s"""concat(transform(tk, x -> named_struct('typ', 'w', 'gram', x)),
                ${windowed(2, "b")}, ${windowed(4, "f")})""")).as("g"))
          .select(col("doc_id"), col("g.typ").as("typ"), col("g.gram").as("gram"))
          .groupBy("doc_id", "typ", "gram").agg(count(lit(1)).as("c"))
          .groupBy("doc_id", "typ")
          .agg(sum(col("c")).as("n"), max(col("c")).as("top"), count(lit(1)).as("uniq"))
          .groupBy("doc_id")
          .agg(
            round(max(when(col("typ") === "w", col("top") * 1.0 / col("n"))), 6).as("top_word_frac"),
            round(max(when(col("typ") === "b", col("top") * 1.0 / col("n"))), 6).as("top_bigram_frac"),
            round(max(when(col("typ") === "f", lit(1.0) - col("uniq") * 1.0 / col("n"))), 6).as("dup_4gram_frac"),
            count(lit(1)).as("_nt"))
          .filter(col("_nt") === 3).drop("_nt")
          .orderBy("doc_id")
      },
      Some(s"""WITH base AS (SELECT doc_id, ${TextExprs.toksSql("text")} AS tk FROM documents),
               w1 AS (SELECT doc_id, SUM(c) AS n, MAX(c) AS top FROM (
                 SELECT doc_id, tok, COUNT(*) AS c FROM (
                   SELECT doc_id, unnest(tk) AS tok FROM base) t GROUP BY 1, 2) g GROUP BY 1),
               w2 AS (SELECT doc_id, SUM(c) AS n, MAX(c) AS top FROM (
                 SELECT doc_id, gram, COUNT(*) AS c FROM (
                   SELECT doc_id, array_to_string(tk[p:p + 1], ' ') AS gram
                   FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS p FROM base) t0) t
                 GROUP BY 1, 2) g GROUP BY 1),
               w4 AS (SELECT doc_id, SUM(c) AS n, COUNT(*) AS uniq FROM (
                 SELECT doc_id, gram, COUNT(*) AS c FROM (
                   SELECT doc_id, array_to_string(tk[p:p + 3], ' ') AS gram
                   FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 3)) AS p FROM base) t0) t
                 GROUP BY 1, 2) g GROUP BY 1)
               SELECT w1.doc_id,
                 ROUND(w1.top * 1.0 / w1.n, 6) AS top_word_frac,
                 ROUND(w2.top * 1.0 / w2.n, 6) AS top_bigram_frac,
                 ROUND(1.0 - w4.uniq * 1.0 / w4.n, 6) AS dup_4gram_frac
               FROM w1 JOIN w2 USING (doc_id) JOIN w4 USING (doc_id)
               ORDER BY doc_id""")),

    // PII scan + redaction: flag and rewrite emails/phone numbers before
    // training. The corpus has no real PII, so the query DETERMINISTICALLY
    // injects a synthetic email (doc_id % 5 = 0) or phone (doc_id % 5 = 3)
    // first — the redactor then has known-positive and known-negative rows
    // to prove both match and non-match behavior. Pure per-row projection
    // (regexp_count + regexp_replace), zero shuffle at any scale; the
    // redacted text is emitted as a fingerprint so the row stays narrow.
    Q("q_text_pii",
      (s, d) => {
        val emailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
        val phonePat = "\\+1-555-[0-9]{4}"
        val injected = when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
              lit("@mail.example now")))
          .when(col("doc_id") % 5 === 3,
            concat(col("text"), lit(" call +1-555-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" today")))
          .otherwise(col("text"))
        docs(s, d).select(col("doc_id"), injected.as("t"))
          .select(col("doc_id"),
            size(regexp_extract_all(col("t"), lit(emailPat), lit(0))).cast("long").as("n_emails"),
            size(regexp_extract_all(col("t"), lit(phonePat), lit(0))).cast("long").as("n_phones"),
            md5(regexp_replace(regexp_replace(col("t"), emailPat, "<EMAIL>"),
              phonePat, "<PHONE>")).as("clean_fp"))
          .orderBy("doc_id")
      },
      Some("""WITH inj AS (SELECT doc_id,
                CASE WHEN doc_id % 5 = 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example now'
                     WHEN doc_id % 5 = 3 THEN text || ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
                     ELSE text END AS t FROM documents)
              SELECT doc_id,
                CAST(len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
                CAST(len(regexp_extract_all(t, '\+1-555-[0-9]{4}')) AS BIGINT) AS n_phones,
                md5(regexp_replace(regexp_replace(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
                  '\+1-555-[0-9]{4}', '<PHONE>', 'g')) AS clean_fp
              FROM inj ORDER BY doc_id""")),

    // training-SEQUENCE PACKING: concatenate documents and cut every B
    // tokens — the GPT-style pretraining layout. Packing is per WORKER
    // (here doc_id % 8; in production the ingest shard), so the running
    // token offset is a window partitioned by worker, never a global
    // single-partition cumulative sum: each shard packs independently and
    // the plan holds at any corpus size. Output per doc: its token offset
    // within the shard and the first/last training chunk it lands in.
    Q("q_text_pack",
      (s, d) => {
        val budget = 256
        val nt = docs(s, d).select(col("doc_id"), (col("doc_id") % 8).as("worker"),
          size(TextExprs.toks(col("text"))).cast("long").as("n_tok"))
        val w = Window.partitionBy("worker").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        nt.withColumn("tok_offset", coalesce(sum(col("n_tok")).over(w), lit(0L)))
          .select(col("doc_id"), col("worker"), col("n_tok"), col("tok_offset"),
            floor(col("tok_offset") / budget).as("chunk_first"),
            floor((col("tok_offset") + greatest(col("n_tok"), lit(1L)) - 1) / budget)
              .as("chunk_last"))
          .orderBy("doc_id")
      },
      Some(s"""WITH nt AS (SELECT doc_id, doc_id % 8 AS worker,
                 CAST(len(${TextExprs.toksSql("text")}) AS BIGINT) AS n_tok FROM documents),
               off AS (SELECT *, CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY worker ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset FROM nt)
               SELECT doc_id, worker, n_tok, tok_offset,
                 CAST(FLOOR(tok_offset / 256.0) AS BIGINT) AS chunk_first,
                 CAST(FLOOR((tok_offset + GREATEST(n_tok, 1) - 1) / 256.0) AS BIGINT) AS chunk_last
               FROM off ORDER BY doc_id""")),

    // domain-MIXTURE weighting: per-source token counts → each source's
    // share of the corpus → the up/down-sampling weight that flattens the
    // mixture to uniform (weight = target_share / actual_share). One scan
    // + one tiny per-source aggregate; the share window runs over
    // #sources rows, not the corpus.
    Q("q_text_mixture",
      (s, d) => {
        val per = docs(s, d)
          .select(col("source"), size(TextExprs.toks(col("text"))).cast("long").as("n_tok"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        val w = Window.partitionBy()
        per
          .withColumn("share", col("n_tokens") * 1.0 / sum(col("n_tokens")).over(w))
          .withColumn("weight", (lit(1.0) / count(lit(1)).over(w)) / col("share"))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            round(col("share"), 6).as("token_share"), round(col("weight"), 6).as("weight"))
          .orderBy("source")
      },
      Some(s"""WITH per AS (SELECT source, COUNT(*) AS n_docs,
                 CAST(SUM(len(${TextExprs.toksSql("text")})) AS BIGINT) AS n_tokens
                 FROM documents GROUP BY source)
               SELECT source, n_docs, n_tokens,
                 ROUND(n_tokens * 1.0 / SUM(n_tokens) OVER (), 6) AS token_share,
                 ROUND((1.0 / COUNT(*) OVER ()) / (n_tokens * 1.0 / SUM(n_tokens) OVER ()), 6) AS weight
               FROM per ORDER BY source""")),

    // RAG/embedding CHUNKING: split every document into fixed-size token
    // chunks with overlap (64-token chunks, stride 48 → 16-token overlap)
    // — the layout an embedding/retrieval pipeline indexes. Pure
    // projection + bounded explode (≤ tokens/stride chunks per doc), zero
    // shuffle until the final sort at any corpus size; chunk text is
    // emitted as a fingerprint so rows stay narrow.
    Q("q_text_chunk",
      (s, d) => {
        val C = 64; val S = 48
        docs(s, d).select(col("doc_id"), TextExprs.toks(col("text")).as("tk"))
          .filter(size(col("tk")) > 0)
          .select(col("doc_id"), size(col("tk")).as("nt"),
            posexplode(expr(s"transform(sequence(0, size(tk) - 1, $S), i -> md5(array_join(slice(tk, i + 1, $C), ' ')))")))
          .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
            least(lit(C), col("nt") - col("pos") * S).cast("long").as("n_tokens"),
            col("col").as("fp"))
          .orderBy("doc_id", "chunk_id")
      },
      Some(s"""WITH base AS (SELECT doc_id, ${TextExprs.toksSql("text")} AS tk FROM documents)
               SELECT doc_id, CAST((p - 1) // 48 AS BIGINT) AS chunk_id,
                 CAST(LEAST(64, len(tk) - p + 1) AS BIGINT) AS n_tokens,
                 md5(array_to_string(tk[p:p + 63], ' ')) AS fp
               FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk), 48)) AS p
                     FROM base WHERE len(tk) > 0) t
               ORDER BY doc_id, chunk_id""")),

    // token-DISTRIBUTION quality signals: Shannon entropy of the in-doc
    // unigram distribution and type-token ratio — low entropy flags
    // repetitive/templated text, high TTR flags word-salad. Uses the
    // identity H = log2(n) - (Σ c·log2 c)/n so the whole signal is the
    // q_text_tokens two-level shape: reduce (doc, tok) map-side, one
    // per-doc rollup — no p_i column, no second pass over tokens.
    Q("q_text_entropy",
      (s, d) => {
        toks(s, d).groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(sum(col("c")).as("n"), count(lit(1)).as("uniq"),
            sum(col("c") * log2(col("c"))).as("clg"))
          .select(col("doc_id"),
            col("n").as("n_tokens"), col("uniq").as("n_types"),
            round(log2(col("n")) - col("clg") / col("n"), 6).as("entropy"),
            round(col("uniq") * 1.0 / col("n"), 6).as("type_token_ratio"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $toksSql,
               cnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
               agg AS (SELECT doc_id, SUM(c) AS n, COUNT(*) AS uniq,
                         SUM(c * log2(c)) AS clg FROM cnt GROUP BY 1)
               SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
                 CAST(uniq AS BIGINT) AS n_types,
                 ROUND(log2(n) - clg / n, 6) AS entropy,
                 ROUND(uniq * 1.0 / n, 6) AS type_token_ratio
               FROM agg ORDER BY doc_id""")),

    // BPE-ish token counting (training-budget estimation): the GPT-2-style
    // pre-tokenizer regex beside the whitespace count — the number a
    // compute-budget planner actually needs tracks BPE merges, not words.
    // Pure projection: one text scan, both counts, zero shuffle.
    Q("q_text_tokens_bpe",
      (s, d) => docs(s, d).select(
          col("doc_id"),
          size(TextExprs.toks(col("text"))).cast("long").as("n_tokens_ws"),
          size(TextExprs.bpeToks(col("text"))).cast("long").as("n_tokens_bpe"))
        .withColumn("bpe_per_word",
          round(col("n_tokens_bpe") * 1.0 /
            greatest(col("n_tokens_ws"), lit(1L)), 6))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
                 CAST(len(${TextExprs.toksSql("text")}) AS BIGINT) AS n_tokens_ws,
                 CAST(len(${TextExprs.bpeToksSql("text")}) AS BIGINT) AS n_tokens_bpe,
                 ROUND(len(${TextExprs.bpeToksSql("text")}) * 1.0 /
                   GREATEST(len(${TextExprs.toksSql("text")}), 1), 6) AS bpe_per_word
               FROM documents ORDER BY doc_id""")),

    // LM-perplexity quality scoring (the CCNet-family filter, here with a
    // corpus-trained add-one-smoothed unigram LM): TRAIN pass aggregates
    // corpus token counts into the model, SCORE pass joins each document's
    // term counts against it — bits/token = −Σc·log2 p̂ / Σc, perplexity =
    // 2^bits. Deliberately two corpus passes, because that is the
    // production shape: the LM is trained once (or on a reference slice)
    // and REUSED across scoring runs; at 100 TB the model relation is
    // O(vocab) — joined by token (broadcast when it fits, AQE decides) —
    // and the (t, v) scalars ride a broadcast cross join like tfidf's nd.
    Q("q_text_perplexity",
      (s, d) => {
        val tf = toks(s, d).groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        // the trained model is materialized once (O(vocab) — tiny next to
        // the corpus): without this, the scalar subtree re-runs the whole
        // train pass a second time (plan audit showed 3 corpus scans)
        val lm = toks(s, d).groupBy("tok").agg(count(lit(1)).as("ct"))
          .localCheckpoint()
        val scal = lm.agg(sum("ct").cast("double").as("t"),
          count(lit(1)).cast("double").as("v"))
        tf.join(lm, "tok").crossJoin(broadcast(scal))
          .groupBy("doc_id")
          .agg(sum("c").as("n_tokens"),
            (-sum(col("c") * log2((col("ct") + 1.0) / (col("t") + col("v")))) / sum("c")).as("bits"))
          .select(col("doc_id"), col("n_tokens"),
            round(col("bits"), 6).as("bits_per_token"),
            round(pow(lit(2.0), col("bits")), 4).as("perplexity"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $toksSql,
               tf AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
               lm AS (SELECT tok, COUNT(*) AS ct FROM toks GROUP BY 1),
               scal AS (SELECT CAST(SUM(ct) AS DOUBLE) AS t,
                               CAST(COUNT(*) AS DOUBLE) AS v FROM lm),
               agg AS (SELECT doc_id, SUM(c) AS n,
                         -SUM(c * log2((ct + 1.0) / (t + v))) / SUM(c) AS bits
                       FROM tf JOIN lm USING (tok) CROSS JOIN scal GROUP BY doc_id)
               SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
                 ROUND(bits, 6) AS bits_per_token,
                 ROUND(POWER(2.0, bits), 4) AS perplexity
               FROM agg ORDER BY doc_id""")),

    // FEATURE HASHING (the Weinberger/vowpal hashing trick): tokens map
    // to a FIXED 16-bucket feature space by hash, with a second
    // independent hash bit choosing the sign so collisions cancel in
    // expectation instead of biasing upward — the O(1)-memory
    // vectorizer that replaces a vocabulary dictionary at corpus scale
    // (no vocab build pass, no OOV, new tokens never resize anything).
    // One scan + one (doc, bucket) hash aggregate; both hashes are the
    // portable md5 recipe (bucket from hex chars 1-8, sign parity from
    // 9-16) stated longhand in the oracle.
    Q("q_text_feature_hash",
      (s, d) => {
        toks(s, d)
          .withColumn("bucket", expr(
            "CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT) % 16"))
          .withColumn("sgn", expr(
            "CASE WHEN CAST(conv(substring(md5(tok), 9, 8), 16, 10) AS BIGINT) % 2 = 0 " +
              "THEN 1 ELSE -1 END"))
          .groupBy("doc_id", "bucket")
          .agg(sum(col("sgn")).cast("long").as("val"),
            count(lit(1)).as("n_toks"))
          .orderBy("doc_id", "bucket")
      },
      Some(s"""WITH $toksSql,
               h AS (SELECT doc_id,
                   CAST('0x' || substring(md5(tok), 1, 8) AS BIGINT) % 16 AS bucket,
                   CASE WHEN CAST('0x' || substring(md5(tok), 9, 8) AS BIGINT) % 2 = 0
                        THEN 1 ELSE -1 END AS sgn
                 FROM toks)
               SELECT doc_id, bucket, CAST(SUM(sgn) AS BIGINT) AS val,
                 COUNT(*) AS n_toks
               FROM h GROUP BY doc_id, bucket ORDER BY doc_id, bucket""")),

    // BPE merge-candidate counting — the inner loop of tokenizer TRAINING:
    // corpus-wide counts of adjacent token pairs, top-20 by frequency
    // (full tie-break so the ranking is total). Pairs come from a bounded
    // in-row transform (no self-join, no per-doc sort window); the count
    // is one two-level hash agg and the top-k is a tiny ordered limit —
    // rerunnable per merge round at corpus scale.
    Q("q_text_bigram_merges",
      (s, d) => {
        bigrams(s, d)
          .groupBy("t1", "t2").agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), asc("t1"), asc("t2"))
          .limit(20)
      },
      Some(s"""WITH $bigramsSql
               SELECT t1, t2, COUNT(*) AS cnt FROM bg GROUP BY t1, t2
               ORDER BY cnt DESC, t1, t2 LIMIT 20""")),

    // BPE merge APPLICATION — the trainer→encoder round trip
    // (VERDICT r9 #6 / r10 missing #2): take the top-3 merges from
    // q_text_bigram_merges' ranking VERBATIM (same pair counts, same
    // total tie-break) and re-encode every document, reporting
    // tokens/doc before and after. The merge applies as a two-pass
    // delimiter replace over the chr(31)-joined token string — pass 1's
    // left-to-right replace consumes the shared boundary pipe of
    // back-to-back matches, pass 2 catches the skipped ones. For
    // t1 ≠ t2 this is EXACT canonical greedy: two matches can only be
    // boundary-ADJACENT, never overlap (overlap needs t1 = t2), and a
    // pass-1-skipped match is always flanked by merged neighbors whose
    // delimiters pass 2 sees. For a SELF-pair merge (t1 = t2) on a run
    // of ≥ 6 repeated tokens, the pairing differs from canonical greedy
    // — both engines identically, so the output stays deterministic and
    // shared. Merged tokens join with chr(30) so they can never
    // re-match a later pattern. One projection per merge — no explode,
    // no shuffle; the 3 merge pairs are an O(1) driver collect off the
    // ranking aggregate, exactly the training row's output. The oracle
    // unrolls the same three merges (GD-loop style) with the same
    // chr(31)/chr(30) string algebra, so both engines compute the
    // identical encoding byte for byte.
    Q("q_text_bpe_encode",
      (s, d) => {
        val D = "\u001f"; val J = "\u001e"
        val merges = bigrams(s, d)
          .groupBy("t1", "t2").agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), asc("t1"), asc("t2"))
          .limit(3).collect()
          .map(r => (r.getString(0), r.getString(1)))
        val tk = TextExprs.toks(col("text"))
        val ts0 = when(size(tk) === 0, lit(null))
          .otherwise(concat(lit(D), concat_ws(D, tk), lit(D)))
        val ts = merges.foldLeft(ts0) { case (acc, (t1, t2)) =>
          val p = lit(D + t1 + D + t2 + D)
          val r = lit(D + t1 + J + t2 + D)
          val once = call_function("replace", acc, p, r)
          call_function("replace", once, p, r)
        }
        def nToks(c: org.apache.spark.sql.Column) = when(c.isNull, lit(0L))
          .otherwise(length(c) - length(call_function("replace", c, lit(D), lit(""))) - 1L)
          .cast("long")
        docs(s, d).select(col("doc_id"),
            size(tk).cast("long").as("n_tokens_before"),
            nToks(ts).as("n_tokens_after"))
          .withColumn("compression",
            round(col("n_tokens_after") * 1.0 /
              greatest(col("n_tokens_before"), lit(1L)), 6))
          .orderBy("doc_id")
      },
      Some(s"""WITH $bigramsSql,
               ranked AS (SELECT t1, t2, ROW_NUMBER() OVER
                   (ORDER BY COUNT(*) DESC, t1, t2) AS rn
                 FROM bg GROUP BY t1, t2
                 ORDER BY COUNT(*) DESC, t1, t2 LIMIT 3),
               enc AS (SELECT doc_id, len(tk) AS n_before,
                   CASE WHEN len(tk) = 0 THEN NULL ELSE
                     chr(31) || array_to_string(tk, chr(31)) || chr(31)
                   END AS ts
                 FROM base),
               m AS (SELECT
                   (SELECT t1 FROM ranked WHERE rn = 1) AS a1,
                   (SELECT t2 FROM ranked WHERE rn = 1) AS b1,
                   (SELECT t1 FROM ranked WHERE rn = 2) AS a2,
                   (SELECT t2 FROM ranked WHERE rn = 2) AS b2,
                   (SELECT t1 FROM ranked WHERE rn = 3) AS a3,
                   (SELECT t2 FROM ranked WHERE rn = 3) AS b3),
               ap AS (SELECT doc_id, n_before,
                   replace(replace(
                     replace(replace(
                       replace(replace(ts,
                         chr(31)||a1||chr(31)||b1||chr(31), chr(31)||a1||chr(30)||b1||chr(31)),
                         chr(31)||a1||chr(31)||b1||chr(31), chr(31)||a1||chr(30)||b1||chr(31)),
                       chr(31)||a2||chr(31)||b2||chr(31), chr(31)||a2||chr(30)||b2||chr(31)),
                       chr(31)||a2||chr(31)||b2||chr(31), chr(31)||a2||chr(30)||b2||chr(31)),
                     chr(31)||a3||chr(31)||b3||chr(31), chr(31)||a3||chr(30)||b3||chr(31)),
                     chr(31)||a3||chr(31)||b3||chr(31), chr(31)||a3||chr(30)||b3||chr(31))
                   AS ts
                 FROM enc CROSS JOIN m)
               SELECT doc_id, CAST(n_before AS BIGINT) AS n_tokens_before,
                 CAST(CASE WHEN ts IS NULL THEN 0 ELSE
                   length(ts) - length(replace(ts, chr(31), '')) - 1 END
                   AS BIGINT) AS n_tokens_after,
                 ROUND(CASE WHEN ts IS NULL THEN 0 ELSE
                     length(ts) - length(replace(ts, chr(31), '')) - 1 END
                   * 1.0 / GREATEST(n_before, 1), 6) AS compression
               FROM ap ORDER BY doc_id""")),

    // PRODUCTION-SHAPE BPE encode kernel (VERDICT r11 #5): the same
    // trainer→encoder round trip as q_text_bpe_encode, but applied by
    // [[graft.functions.BpeKernel]] — ONE mapPartitions pass per corpus
    // carrying the whole ranked merge table as a broadcast, each doc
    // encoded by an in-memory priority scan (O(tokens) per applied
    // merge, O(1) hash lookups) — where the column-algebra row pays one
    // plan node per merge. A 30k-merge production table is the same
    // plan; examples/TextScale measures tokens/sec FLAT in table size.
    // Merge table: top-6 ranked pairs with t1 ≠ t2 (self-pairs excluded
    // on BOTH engines, which makes the two-pass-replace oracle EXACT
    // canonical greedy — BpeSemanticsSpec — with no self-pair deviation
    // window); tokens never contain chr(30), and a merge never creates
    // a new plain-plain adjacency, so the kernel's priority loop equals
    // the oracle's rank-order unroll exactly (see BpeKernel's note).
    Q("q_text_bpe_encode_kernel",
      (s, d) => {
        import s.implicits._
        val merges = bigrams(s, d)
          .filter(col("t1") =!= col("t2"))
          .groupBy("t1", "t2").agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), asc("t1"), asc("t2"))
          .limit(6).collect()
          .map(r => (r.getString(0), r.getString(1)))
        val bm = s.sparkContext.broadcast(merges)
        docs(s, d).select(col("doc_id"), TextExprs.toks(col("text")).as("tk"))
          .as[(Long, Array[String])]
          .mapPartitions { it =>
            // table prepared ONCE per partition (hash-map build is
            // O(table); per-doc cost must not carry it)
            val table = new graft.functions.BpeKernel.Table(bm.value)
            it.map { case (id, tk) =>
              (id, tk.length.toLong,
                graft.functions.BpeKernel.encode(tk, table).length.toLong)
            }
          }
          .toDF("doc_id", "n_tokens_before", "n_tokens_after")
          .withColumn("compression",
            round(col("n_tokens_after") * 1.0 /
              greatest(col("n_tokens_before"), lit(1L)), 6))
          .orderBy("doc_id")
      },
      Some {
        val enc = (1 to 6).foldLeft("ts") { (acc, i) =>
          val p = s"chr(31)||a$i||chr(31)||b$i||chr(31)"
          val r = s"chr(31)||a$i||chr(30)||b$i||chr(31)"
          s"replace(replace($acc, $p, $r), $p, $r)"
        }
        val m = (1 to 6).map(i =>
          s"""(SELECT t1 FROM ranked WHERE rn = $i) AS a$i,
              (SELECT t2 FROM ranked WHERE rn = $i) AS b$i""").mkString(",\n")
        s"""WITH $bigramsSql,
            ranked AS (SELECT t1, t2, ROW_NUMBER() OVER
                (ORDER BY COUNT(*) DESC, t1, t2) AS rn
              FROM bg WHERE t1 <> t2 GROUP BY t1, t2
              ORDER BY COUNT(*) DESC, t1, t2 LIMIT 6),
            enc AS (SELECT doc_id, len(tk) AS n_before,
                CASE WHEN len(tk) = 0 THEN NULL ELSE
                  chr(31) || array_to_string(tk, chr(31)) || chr(31)
                END AS ts
              FROM base),
            m AS (SELECT $m),
            ap AS (SELECT doc_id, n_before, $enc AS ts
              FROM enc CROSS JOIN m)
            SELECT doc_id, CAST(n_before AS BIGINT) AS n_tokens_before,
              CAST(CASE WHEN ts IS NULL THEN 0 ELSE
                length(ts) - length(replace(ts, chr(31), '')) - 1 END
                AS BIGINT) AS n_tokens_after,
              ROUND(CASE WHEN ts IS NULL THEN 0 ELSE
                  length(ts) - length(replace(ts, chr(31), '')) - 1 END
                * 1.0 / GREATEST(n_before, 1), 6) AS compression
            FROM ap ORDER BY doc_id"""
      }),

    // TRAINER→KERNEL COMPOSITION (VERDICT r12 #4) — the production
    // tokenizer-training dataflow in one row: train a 20-merge table
    // with the FULL iterative loop (pick the most frequent pair, merge
    // it everywhere, RECOUNT on the re-encoded corpus — so later rounds
    // select pairs of already-merged supertokens, the hierarchy a
    // static top-k ranking cannot see), then hand the DISCOVERED table
    // to [[graft.functions.BpeKernel]] and re-encode the corpus in ONE
    // mapPartitions pass. The kernel's priority scan provably equals
    // applying the merges sequentially in training order — a merge
    // never creates an occurrence of an earlier-rank pair (its output
    // token joins with chr(30), which no earlier operand can equal,
    // and no new plain-plain adjacency appears) — and the row REQUIRES
    // that equality: the kernel's corpus token count must equal the
    // unrolled chain's, or the composition is broken. Self-pairs are
    // excluded each round (the kernel row's exactness seam: two-pass
    // replace is canonical greedy only for t1 ≠ t2 — both engines
    // share the filter). Per round: one pair-count hash agg, one O(1)
    // argmax collect, one projection; encodings MATERIALIZE every
    // SECOND round (BpeTrain.trainLoop's checkpoint cadence, VERDICT
    // r13 #5 — the in-between round's replace projection fuses into
    // the next pair-count scan, halving the checkpoint jobs; the
    // merges are identical at any cadence, BpeSemanticsSpec-pinned),
    // superseded pins released only after the next pin materialized.
    // Oracle: the same 20 rounds unrolled as MATERIALIZED
    // CTEs (the GD-loop discipline), sharing q_text_bigram_merges'
    // ranking ORDER BY verbatim.
    Q("q_text_bpe_train_kernel",
      (s, d) => {
        import s.implicits._
        val R = 20
        val base = docs(s, d).select(col("doc_id"), BpeTrain.ts0.as("ts"))
          .localCheckpoint()
        val (merges, enc) =
          BpeTrain.trainLoop(base, R, excludeSelf = true)
        val totBefore = BpeTrain.corpusToks(base)
        val totChain = BpeTrain.corpusToks(enc)
        val nDocs = base.count()
        graft.plans.Iterate.release(enc)
        graft.plans.Iterate.release(base)
        // the composition: the trained table drives the kernel encoder
        val bm = s.sparkContext.broadcast(merges.toArray)
        val totKernel = docs(s, d)
          .select(col("doc_id"), TextExprs.toks(col("text")).as("tk"))
          .as[(Long, Array[String])]
          .mapPartitions { it =>
            val table = new graft.functions.BpeKernel.Table(bm.value)
            it.map { case (_, tk) =>
              graft.functions.BpeKernel.encode(tk, table).length.toLong }
          }
          .toDF("n").agg(sum("n")).head.getLong(0)
        require(totKernel == totChain,
          s"kernel encode with the trained table must equal the sequential " +
            s"merge chain: $totKernel != $totChain")
        val (lA, lB) = merges.last
        def show(t: String) = t.replace(BpeTrain.J, "+")
        Seq((R.toLong, totBefore, totChain, show(lA) + "+" + show(lB)))
          .toDF("n_merges", "corpus_tokens_before", "corpus_tokens_after",
            "last_merge")
          .withColumn("tokens_per_doc_after",
            round(col("corpus_tokens_after") * 1.0 / lit(nDocs), 6))
          .withColumn("kernel_equals_unroll", lit(true))
          .select("n_merges", "corpus_tokens_before", "corpus_tokens_after",
            "tokens_per_doc_after", "last_merge", "kernel_equals_unroll")
      },
      Some {
        val R = 20
        val rounds =
          (1 to R).map(BpeTrain.roundSql(_, excludeSelf = true)).mkString(",\n")
        s"""WITH ${BpeTrain.baseSql},
           $rounds
           SELECT CAST($R AS BIGINT) AS n_merges,
             ${BpeTrain.ntSql("enc0")} AS corpus_tokens_before,
             ${BpeTrain.ntSql(s"enc$R")} AS corpus_tokens_after,
             ROUND(${BpeTrain.ntSql(s"enc$R")} * 1.0
               / (SELECT COUNT(*) FROM enc0), 6) AS tokens_per_doc_after,
             (SELECT replace(t1, chr(30), '+') || '+' || replace(t2, chr(30), '+')
              FROM r$R) AS last_merge,
             true AS kernel_equals_unroll"""
      }),

    // BPE ITERATIVE TRAINING — the full trainer loop q_text_bpe_encode's
    // one-shot application sits inside: pick the most frequent pair,
    // MERGE IT EVERYWHERE, RECOUNT pairs on the re-encoded corpus (the
    // second round's counts see first-round merged tokens — the step a
    // single-pass ranking cannot express), repeat. Two rounds unrolled
    // (the GD-loop precedent); each round = one corpus-wide pair count
    // (hash agg), one O(1) driver collect of the argmax, one projection
    // applying the merge with the chr(31)/chr(30) two-pass replace
    // (exact greedy for t1 ≠ t2 — see q_text_bpe_encode's note on the
    // self-pair run case). Output: per round, the chosen pair (chr(30)
    // shown as '+'), its
    // corpus count AT SELECTION TIME, and corpus tokens after applying —
    // the numbers a tokenizer-training dashboard plots.
    Q("q_text_bpe_train",
      (s, d) => {
        val base = docs(s, d).select(col("doc_id"), BpeTrain.ts0.as("ts"))
          .localCheckpoint()
        val (a1, b1, c1) =
          BpeTrain.top1(BpeTrain.pairCounts(base, excludeSelf = false), 1)
        val enc1 = BpeTrain.applyMerge(base, a1, b1).localCheckpoint()
        val n1 = BpeTrain.corpusToks(enc1)
        val (a2, b2, c2) =
          BpeTrain.top1(BpeTrain.pairCounts(enc1, excludeSelf = false), 2)
        val n2 = BpeTrain.corpusToks(BpeTrain.applyMerge(enc1, a2, b2))
        def show(t: String) = t.replace(BpeTrain.J, "+")
        import s.implicits._
        Seq((1L, show(a1) + "+" + show(b1), c1, n1),
            (2L, show(a2) + "+" + show(b2), c2, n2))
          .toDF("round", "pair", "cnt", "corpus_tokens_after")
          .orderBy("round")
      },
      Some(s"""WITH ${BpeTrain.baseSql},
               ${BpeTrain.roundSql(1, excludeSelf = false)},
               ${BpeTrain.roundSql(2, excludeSelf = false)}
               SELECT * FROM (
                 SELECT CAST(1 AS BIGINT) AS round,
                   replace(r1.t1, chr(30), '+') || '+' || replace(r1.t2, chr(30), '+') AS pair,
                   CAST(r1.cnt AS BIGINT) AS cnt,
                   ${BpeTrain.ntSql("enc1")} AS corpus_tokens_after
                 FROM r1
                 UNION ALL
                 SELECT CAST(2 AS BIGINT),
                   replace(r2.t1, chr(30), '+') || '+' || replace(r2.t2, chr(30), '+'),
                   CAST(r2.cnt AS BIGINT), ${BpeTrain.ntSql("enc2")}
                 FROM r2) z
               ORDER BY round""")),

    // Interpolated BIGRAM-LM perplexity — the step up from the unigram
    // CCNet filter (q_text_perplexity): P(t2|t1) = λ·c(t1,t2)/c(t1·)
    // + (1−λ)·P1(t2) with the SAME add-one unigram as backoff, scored
    // over each doc's transitions. Train = two hash aggs over the
    // bigram/token streams (O(vocab²) worst-case model, O(seen-bigrams)
    // actual); score = one equi-join per model relation + per-doc sum —
    // no extra corpus pass vs the unigram row.
    Q("q_text_perplexity_bigram",
      (s, d) => {
        val lam = 0.7
        // ONE corpus extraction: the per-doc term counts are checkpointed
        // and the bigram LM is derived by re-aggregating them (review r5:
        // two independent bigrams() calls ran the tokenize+explode twice)
        val pf = bigrams(s, d).groupBy("doc_id", "t1", "t2")
          .agg(count(lit(1)).as("c")).localCheckpoint()
        val bgLm = pf.groupBy("t1", "t2").agg(sum("c").as("cb"))
        val c1 = bgLm.groupBy("t1").agg(sum("cb").as("c1"))
        val uni = toks(s, d).groupBy("tok").agg(count(lit(1)).as("ct"))
          .localCheckpoint()
        val scal = uni.agg(sum("ct").cast("double").as("t"),
          count(lit(1)).cast("double").as("v"))
        pf.join(bgLm, Seq("t1", "t2"))
          .join(c1, Seq("t1"))
          .join(uni.withColumnRenamed("tok", "t2"), Seq("t2"))
          .crossJoin(broadcast(scal))
          .groupBy("doc_id")
          .agg(sum("c").as("n_trans"),
            (-sum(col("c") * log2(lit(lam) * col("cb") / col("c1") +
              lit(1 - lam) * (col("ct") + 1.0) / (col("t") + col("v"))))
              / sum("c")).as("bits"))
          .select(col("doc_id"), col("n_trans"),
            round(col("bits"), 6).as("bits_per_transition"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $bigramsSql,
               pf AS (SELECT doc_id, t1, t2, COUNT(*) AS c FROM bg GROUP BY 1, 2, 3),
               bglm AS (SELECT t1, t2, COUNT(*) AS cb FROM bg GROUP BY 1, 2),
               c1 AS (SELECT t1, SUM(cb) AS c1 FROM bglm GROUP BY 1),
               uni AS (SELECT tok, COUNT(*) AS ct FROM
                 (SELECT doc_id, unnest(tk) AS tok FROM base) u GROUP BY 1),
               scal AS (SELECT CAST(SUM(ct) AS DOUBLE) AS t,
                          CAST(COUNT(*) AS DOUBLE) AS v FROM uni),
               agg AS (SELECT doc_id, SUM(c) AS n,
                 -SUM(c * log2(0.7 * cb / c1 + 0.3 * (ct + 1.0) / (t + v))) / SUM(c) AS bits
                 FROM pf JOIN bglm USING (t1, t2) JOIN c1 USING (t1)
                 JOIN uni ON uni.tok = pf.t2 CROSS JOIN scal
                 GROUP BY doc_id)
               SELECT doc_id, CAST(n AS BIGINT) AS n_trans,
                 ROUND(bits, 6) AS bits_per_transition
               FROM agg ORDER BY doc_id""")),

    // DOCUMENT CLUSTERING by tf-idf cosine to SEED documents (topic
    // bucketing): every doc with id >= 4 is assigned to the most
    // similar of the four seed docs (id 0..3) under sparse tf-idf
    // cosine — one k-means-style assignment round over the lexical
    // space, the corpus-partitioning step a curation pipeline runs to
    // split a crawl into topical buckets before per-bucket mixing.
    // The join is term-keyed against the SEEDS' vocabulary only (a
    // broadcast — O(seeds·vocab_seed), never corpus×corpus); weights
    // round at 6 before the dot so both engines accumulate identical
    // terms; ties break toward the lower seed id. Docs sharing no term
    // with any seed drop out (both engines, inner-join semantics).
    Q("q_text_cluster_assign",
      (s, d) => {
        val tf = toks(s, d).groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
          .localCheckpoint()
        val dfreq = tf.groupBy("tok").agg(count(lit(1)).cast("double").as("df"))
        val nDf = Tables(s, d, "documents").agg(count(lit(1)).cast("double").as("nd"))
        val wRel = tf.join(dfreq, "tok").crossJoin(broadcast(nDf))
          .select(col("doc_id"), col("tok"),
            round(col("tf") * log(col("nd") / col("df")), 6).as("w"))
          .localCheckpoint()
        graft.plans.Iterate.release(tf)
        val nrm = wRel.groupBy("doc_id").agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
        val seeds = wRel.filter(col("doc_id") < 4)
          .select(col("doc_id").as("seed"), col("tok"), col("w").as("ws"))
        val seedNrm = nrm.filter(col("doc_id") < 4)
          .select(col("doc_id").as("seed"), col("nrm").as("ns"))
        wRel.filter(col("doc_id") >= 4)
          .join(broadcast(seeds), "tok")
          .groupBy("doc_id", "seed").agg(sum(col("w") * col("ws")).as("dot"))
          .join(nrm, "doc_id").join(broadcast(seedNrm), "seed")
          .select(col("doc_id"), col("seed"),
            round(col("dot") / (col("nrm") * col("ns")), 6).as("sim"))
          .withColumn("rk", row_number().over(Window.partitionBy("doc_id")
            .orderBy(desc("sim"), asc("seed"))))
          .filter(col("rk") === 1)
          .select(col("doc_id"), col("seed").as("cluster"), col("sim"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $toksSql,
              tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
                GROUP BY doc_id, tok),
              dfreq AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df
                FROM tf GROUP BY tok),
              nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM documents),
              wrel AS (SELECT doc_id, tok, ROUND(tf * LN(nd.nd / df), 6) AS w
                FROM tf JOIN dfreq USING (tok) CROSS JOIN nd),
              nrm AS (SELECT doc_id, SQRT(SUM(w * w)) AS nrm
                FROM wrel GROUP BY doc_id),
              sims AS (SELECT c.doc_id, sd.doc_id AS seed, SUM(c.w * sd.w) AS dot
                FROM wrel c JOIN wrel sd ON sd.tok = c.tok
                WHERE sd.doc_id < 4 AND c.doc_id >= 4
                GROUP BY 1, 2),
              scored AS (SELECT sims.doc_id, seed,
                  ROUND(dot / (n1.nrm * n2.nrm), 6) AS sim
                FROM sims JOIN nrm n1 ON n1.doc_id = sims.doc_id
                JOIN nrm n2 ON n2.doc_id = sims.seed)
              SELECT doc_id, seed AS cluster, sim FROM scored
              QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY sim DESC, seed) = 1
              ORDER BY doc_id""")),

    // TF-IDF COSINE k-NN over documents: for the 5 lowest-id docs, the
    // 3 most similar other docs by sparse tf-idf cosine — the classic
    // lexical retrieval ranking beside the embedding ANN rows. The dot
    // products come from ONE term-keyed equi-join of the query docs'
    // sparse vectors against the corpus (bounded by Σ_t qtf·df — hot
    // terms fan out but carry near-zero idf weight; a production run
    // prefix-filters them, here 5 queries × corpus is the honest cost),
    // norms from one per-doc aggregate. Weights stay UNROUNDED through
    // the dot; only the final cosine rounds.
    Q("q_text_tfidf_knn",
      (s, d) => {
        // df via groupBy + equi-join, not a per-tok count window (a hot
        // token's window group is single-task — see q_text_tfidf's note);
        // tf is checkpointed so the explode runs once for df + weights.
        val tf = toks(s, d).groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
          .localCheckpoint()
        val dfreq = tf.groupBy("tok").agg(count(lit(1)).cast("double").as("df"))
        val nDf = Tables(s, d, "documents").agg(count(lit(1)).cast("double").as("nd"))
        val w0 = tf
          .join(dfreq, "tok")
          .crossJoin(broadcast(nDf))
          .select(col("doc_id"), col("tok"),
            (col("tf") * log(col("nd") / col("df"))).as("w"))
          .localCheckpoint() // feeds norms + both join sides
        val norms = w0.groupBy("doc_id").agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
        val q = w0.filter(col("doc_id") < 5)
          .select(col("doc_id").as("q_id"), col("tok"), col("w").as("wq"))
        val c = w0.filter(col("doc_id") >= 5)
          .select(col("doc_id").as("cand_id"), col("tok"), col("w").as("wc"))
        val dots = q.join(c, Seq("tok"))
          .groupBy("q_id", "cand_id").agg(sum(col("wq") * col("wc")).as("dot"))
        val rw = Window.partitionBy(col("q_id")).orderBy(desc("cos"), asc("cand_id"))
        val out = dots
          .join(norms.select(col("doc_id").as("q_id"), col("nrm").as("nq")), "q_id")
          .join(norms.select(col("doc_id").as("cand_id"), col("nrm").as("nc")), "cand_id")
          .select(col("q_id"), col("cand_id"),
            round(col("dot") / (col("nq") * col("nc")), 6).as("cos"))
          .withColumn("rank", row_number().over(rw).cast("long"))
          .filter(col("rank") <= 3)
          .select(col("q_id"), col("rank"), col("cand_id"), col("cos"))
          .orderBy("q_id", "rank").localCheckpoint()
        graft.plans.Iterate.release(w0)
        graft.plans.Iterate.release(tf)
        out
      },
      Some(s"""WITH $toksSql,
              tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
              dfreq AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok),
              nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM documents),
              w0 AS (SELECT doc_id, tok, tf * LN(nd.nd / df) AS w
                     FROM tf JOIN dfreq USING (tok) CROSS JOIN nd),
              nrm AS (SELECT doc_id, SQRT(SUM(w * w)) AS nrm FROM w0 GROUP BY doc_id),
              dots AS (SELECT q.doc_id AS q_id, c.doc_id AS cand_id,
                  SUM(q.w * c.w) AS dot
                FROM w0 q JOIN w0 c ON q.tok = c.tok
                WHERE q.doc_id < 5 AND c.doc_id >= 5
                GROUP BY 1, 2),
              cs AS (SELECT d.q_id, d.cand_id,
                  ROUND(d.dot / (nq.nrm * nc.nrm), 6) AS cos
                FROM dots d JOIN nrm nq ON nq.doc_id = d.q_id
                JOIN nrm nc ON nc.doc_id = d.cand_id)
              SELECT q_id, rank, cand_id, cos FROM (
                SELECT q_id, cand_id, cos,
                  CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                    ORDER BY cos DESC, cand_id) AS BIGINT) AS rank
                FROM cs) t
              WHERE rank <= 3 ORDER BY q_id, rank""")),

    // Top COLLOCATIONS by pointwise mutual information over the bigram
    // stream: PMI(t1,t2) = log2(c12·N / (cL(t1)·cR(t2))) with marginals
    // taken over the same bigram stream (left/right occurrence counts),
    // floored at c12 >= 5 so rare-pair noise can't dominate (the classic
    // Church&Hanks collocation extractor). Three hash aggregates over
    // one bigram extraction + two broadcast-scalar joins; top-20 by the
    // ROUNDED score with a (t1, t2) tie-break so both engines order
    // identically.
    // TEXTRANK keyword extraction (Mihalcea & Tarau 2004): PageRank over
    // the word co-occurrence graph — vertices are tokens, undirected
    // edges join adjacent tokens, edge weight = corpus-wide adjacency
    // count (floor 2 bounds the graph to recurring collocations). Three
    // unrolled weighted-PageRank rounds, top-20 keywords. Reuses the
    // bounded in-row bigram transform (no self-join over tokens) and the
    // graph family's one-join-one-agg superstep, so the whole pipeline is
    // two hash aggregates to build the graph + 3 bounded rounds — the
    // corpus-keyword summary a curation dashboard runs at 100 TB.
    Q("q_text_textrank",
      (s, d) => {
        val bgc = bigrams(s, d).filter(col("t1") =!= col("t2"))
          .groupBy("t1", "t2").agg(count(lit(1)).as("c"))
        val und = bgc.select(col("t1").as("u"), col("t2").as("v"), col("c"))
          .unionAll(bgc.select(col("t2").as("u"), col("t1").as("v"), col("c")))
          .groupBy("u", "v").agg(sum("c").as("w"))
          .filter(col("w") >= 2)
          .localCheckpoint()
        val wd = und.groupBy("u").agg(sum("w").cast("double").as("wdeg"))
        val e2 = und.join(wd, "u").localCheckpoint()
        val words = und.select("u").distinct().localCheckpoint()
        var r = words.select(col("u"), lit(1.0).as("score"))
        for (_ <- 1 to 3) {
          val m = e2.as("ee").join(r.as("rr"), col("ee.u") === col("rr.u"))
            .groupBy(col("ee.v").as("u"))
            .agg(sum(col("rr.score") * col("ee.w") / col("ee.wdeg")).as("msum"))
          r = words.as("ww").join(m.as("mm"), col("ww.u") === col("mm.u"), "left")
            .select(col("ww.u").as("u"),
              (lit(0.15) + lit(0.85) * coalesce(col("mm.msum"), lit(0.0))).as("score"))
        }
        r.select(col("u").as("word"), round(col("score"), 6).as("score"))
          .orderBy(desc("score"), asc("word")).limit(20)
      },
      Some {
        val steps = (0 until 3).map { i =>
          s"""r${i + 1} AS (SELECT words.u,
               0.15 + 0.85 * COALESCE(m.msum, 0) AS score
             FROM words LEFT JOIN (
               SELECT und.v AS u, SUM(r$i.score * und.w / wd.wdeg) AS msum
               FROM r$i JOIN und ON und.u = r$i.u JOIN wd ON wd.u = und.u
               GROUP BY und.v) m ON m.u = words.u)"""
        }.mkString(",\n")
        s"""WITH $bigramsSql,
            bgc AS (SELECT t1, t2, COUNT(*) AS c FROM bg
                    WHERE t1 <> t2 GROUP BY 1, 2),
            und AS (SELECT u, v, SUM(c) AS w FROM (
                SELECT t1 AS u, t2 AS v, c FROM bgc
                UNION ALL SELECT t2 AS u, t1 AS v, c FROM bgc) t
              GROUP BY u, v HAVING SUM(c) >= 2),
            wd AS (SELECT u, CAST(SUM(w) AS DOUBLE) AS wdeg FROM und GROUP BY u),
            words AS (SELECT DISTINCT u FROM und),
            r0 AS (SELECT u, 1.0 AS score FROM words),
            $steps
            SELECT u AS word, ROUND(score, 6) AS score FROM r3
            ORDER BY score DESC, word LIMIT 20"""
      }),

    Q("q_text_pmi",
      (s, d) => {
        val bg = bigrams(s, d).groupBy("t1", "t2").agg(count(lit(1)).as("c12"))
          .localCheckpoint()
        val cl = bg.groupBy("t1").agg(sum("c12").as("cl"))
        val cr = bg.groupBy("t2").agg(sum("c12").as("cr"))
        val n = bg.agg(sum("c12").cast("double").as("n"))
        bg.filter(col("c12") >= 5)
          .join(cl, Seq("t1")).join(cr, Seq("t2"))
          .crossJoin(broadcast(n))
          .select(col("t1"), col("t2"), col("c12"),
            round(log2(col("c12") * col("n") / (col("cl") * col("cr"))), 6).as("pmi"))
          .orderBy(desc("pmi"), asc("t1"), asc("t2"))
          .limit(20)
      },
      Some(s"""WITH $bigramsSql,
              bgc AS (SELECT t1, t2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
              cl AS (SELECT t1, SUM(c12) AS cl FROM bgc GROUP BY 1),
              cr AS (SELECT t2, SUM(c12) AS cr FROM bgc GROUP BY 1),
              n AS (SELECT CAST(SUM(c12) AS DOUBLE) AS n FROM bgc)
              SELECT t1, t2, c12, ROUND(log2(c12 * n / (cl.cl * cr.cr)), 6) AS pmi
              FROM bgc JOIN cl USING (t1) JOIN cr USING (t2) CROSS JOIN n
              WHERE c12 >= 5
              ORDER BY pmi DESC, t1, t2 LIMIT 20""")),

    // KNESER-NEY smoothed bigram perplexity — the LM-quality scorer the
    // interpolated row approximates: P(t2|t1) = max(c12−δ,0)/c1 +
    // δ·T(t1)/c1 · Pcont(t2), where T(t1) = distinct continuations of
    // t1 and Pcont(t2) = distinct left-contexts of t2 / distinct bigram
    // types — the continuation probability that makes KN the standard
    // n-gram smoother. δ = 0.75. Training = the same two-level hash
    // aggregates as the interpolated row (distinct counts come free
    // from the (t1,t2)-grouped relation); scoring touches only each
    // doc's own transitions (all seen in training, so no zero path).
    Q("q_text_perplexity_kn",
      (s, d) => {
        val delta = 0.75
        val pf = bigrams(s, d).groupBy("doc_id", "t1", "t2")
          .agg(count(lit(1)).as("c")).localCheckpoint()
        val bgLm = pf.groupBy("t1", "t2").agg(sum("c").as("c12"))
          .localCheckpoint()
        val left = bgLm.groupBy("t1")
          .agg(sum("c12").as("c1"), count(lit(1)).as("tt"))
        val cont = bgLm.groupBy("t2").agg(count(lit(1)).as("nleft"))
        val types = bgLm.agg(count(lit(1)).cast("double").as("ntypes"))
        pf.join(bgLm, Seq("t1", "t2"))
          .join(left, Seq("t1"))
          .join(cont, Seq("t2"))
          .crossJoin(broadcast(types))
          .groupBy("doc_id")
          .agg(sum("c").as("n_trans"),
            (-sum(col("c") * log2(
              greatest(col("c12") - delta, lit(0.0)) / col("c1") +
                lit(delta) * col("tt") / col("c1") * col("nleft") / col("ntypes")))
              / sum("c")).as("bits"))
          .select(col("doc_id"), col("n_trans"),
            round(col("bits"), 6).as("bits_per_transition"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $bigramsSql,
              pf AS (SELECT doc_id, t1, t2, COUNT(*) AS c FROM bg GROUP BY 1, 2, 3),
              bglm AS (SELECT t1, t2, SUM(c) AS c12 FROM pf GROUP BY 1, 2),
              lft AS (SELECT t1, SUM(c12) AS c1, COUNT(*) AS tt FROM bglm GROUP BY 1),
              cont AS (SELECT t2, COUNT(*) AS nleft FROM bglm GROUP BY 1),
              ty AS (SELECT CAST(COUNT(*) AS DOUBLE) AS ntypes FROM bglm),
              agg AS (SELECT doc_id, SUM(c) AS n,
                -SUM(c * log2(GREATEST(c12 - 0.75, 0.0) / c1
                  + 0.75 * tt / c1 * nleft / ntypes)) / SUM(c) AS bits
                FROM pf JOIN bglm USING (t1, t2) JOIN lft USING (t1)
                JOIN cont USING (t2) CROSS JOIN ty
                GROUP BY doc_id)
              SELECT doc_id, CAST(n AS BIGINT) AS n_trans,
                ROUND(bits, 6) AS bits_per_transition
              FROM agg ORDER BY doc_id""")),

    // DoReMi-style DOMAIN REWEIGHTING (one proxy step): per-source
    // excess loss under the corpus unigram LM (source bits-per-token
    // minus the best source's), exponentiated into a softmax and mixed
    // 80/20 with uniform — the mixture-weight update that up-weights
    // hard domains. The whole computation is two hash aggregates over
    // (source, tok) counts plus an O(sources) driver-free softmax
    // (window over a 5-row relation); the LM is the same add-one
    // unigram every perplexity row uses.
    Q("q_text_doremi",
      (s, d) => {
        val st = docs(s, d).select(col("source"),
            explode(TextExprs.toks(col("text"))).as("tok"))
          .groupBy("source", "tok").agg(count(lit(1)).as("c"))
          .localCheckpoint()
        val lm = st.groupBy("tok").agg(sum("c").as("ct"))
        val scal = lm.agg(sum("ct").cast("double").as("t"),
          count(lit(1)).cast("double").as("v"))
        val bits = st.join(lm, "tok").crossJoin(broadcast(scal))
          .groupBy("source")
          .agg((-sum(col("c") * log2((col("ct") + 1.0) / (col("t") + col("v"))))
            / sum("c")).as("bits"), sum("c").as("n_tokens"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(lit(1))
        bits
          .withColumn("excess", col("bits") - min("bits").over(w))
          .withColumn("e", exp(col("excess")))
          .withColumn("weight",
            lit(0.8) * col("e") / sum("e").over(w) + lit(0.2) / count(lit(1)).over(w))
          .select(col("source"), col("n_tokens"),
            round(col("bits"), 6).as("bits_per_token"),
            round(col("excess"), 6).as("excess"),
            round(col("weight"), 6).as("weight"))
          .orderBy("source")
      },
      Some(s"""WITH st AS (SELECT source, unnest(${TextExprs.toksSql("text")}) AS tok
                           FROM documents),
              sc AS (SELECT source, tok, COUNT(*) AS c FROM st GROUP BY 1, 2),
              lm AS (SELECT tok, SUM(c) AS ct FROM sc GROUP BY 1),
              scal AS (SELECT CAST(SUM(ct) AS DOUBLE) AS t,
                              CAST(COUNT(*) AS DOUBLE) AS v FROM lm),
              b AS (SELECT source,
                      -SUM(c * log2((ct + 1.0) / (t + v))) / SUM(c) AS bits,
                      CAST(SUM(c) AS BIGINT) AS n_tokens
                    FROM sc JOIN lm USING (tok) CROSS JOIN scal GROUP BY source),
              x AS (SELECT source, n_tokens, bits,
                      bits - MIN(bits) OVER () AS excess FROM b),
              e AS (SELECT source, n_tokens, bits, excess,
                      EXP(excess) AS ew FROM x)
              SELECT source, n_tokens,
                ROUND(bits, 6) AS bits_per_token,
                ROUND(excess, 6) AS excess,
                ROUND(0.8 * ew / SUM(ew) OVER () + 0.2 / COUNT(*) OVER (), 6) AS weight
              FROM e ORDER BY source""")),

    // DSIR-style importance weight (Data Selection via Importance
    // Resampling): per-doc mean log-likelihood ratio between a TARGET
    // unigram LM (here the English slice) and the full-corpus LM, both
    // add-1 smoothed over the corpus vocabulary. Positive ⇒ doc looks
    // like the target domain; the weight feeds importance resampling of
    // a raw crawl toward a curated domain. One tagged-token scan trains
    // BOTH models (conditional partial agg — the q_text_perplexity shape
    // with a second conditional count), so target-model training adds no
    // extra corpus pass; scoring is one equi-join on token + per-doc sum.
    Q("q_text_dsir",
      (s, d) => {
        val tk = docs(s, d).select(col("doc_id"), (col("lang") === "en").as("tgt"),
          explode(TextExprs.toks(col("text"))).as("tok"))
        val lm = tk.groupBy("tok").agg(
            count(lit(1)).as("cc"),
            sum(when(col("tgt"), 1L).otherwise(0L)).as("ctg"))
          .localCheckpoint() // O(vocab); avoids re-training in the scalar subtree
        val scal = lm.agg(sum("cc").cast("double").as("nc"),
          sum("ctg").cast("double").as("nt"),
          count(lit(1)).cast("double").as("v"))
        val tf = tk.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        tf.join(lm, "tok").crossJoin(broadcast(scal))
          .groupBy("doc_id")
          .agg(sum("c").as("n_tokens"),
            (sum(col("c") * (log2((col("ctg") + 1.0) / (col("nt") + col("v"))) -
              log2((col("cc") + 1.0) / (col("nc") + col("v"))))) / sum("c")).as("llr"))
          .select(col("doc_id"), col("n_tokens"),
            round(col("llr"), 6).as("llr_per_token"))
          .orderBy("doc_id")
      },
      Some(s"""WITH tk AS (SELECT doc_id, lang = 'en' AS tgt,
                 unnest(${TextExprs.toksSql("text")}) AS tok FROM documents),
               lm AS (SELECT tok, COUNT(*) AS cc,
                        SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ctg
                      FROM tk GROUP BY tok),
               scal AS (SELECT CAST(SUM(cc) AS DOUBLE) AS nc,
                          CAST(SUM(ctg) AS DOUBLE) AS nt,
                          CAST(COUNT(*) AS DOUBLE) AS v FROM lm),
               tf AS (SELECT doc_id, tok, COUNT(*) AS c FROM tk GROUP BY 1, 2),
               agg AS (SELECT doc_id, SUM(c) AS n,
                         SUM(c * (log2((ctg + 1.0) / (nt + v))
                                  - log2((cc + 1.0) / (nc + v)))) / SUM(c) AS llr
                       FROM tf JOIN lm USING (tok) CROSS JOIN scal GROUP BY doc_id)
               SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
                 ROUND(llr, 6) AS llr_per_token
               FROM agg ORDER BY doc_id""")),

    // LEXICAL DIVERSITY per source: type-token ratio (distinct tokens /
    // total tokens) plus root-TTR (types/√tokens — Guiraud's index, the
    // length-corrected variant that survives corpus-size changes) — the
    // vocabulary-richness signal a templated or spam-heavy source fails
    // first. One token aggregate per source; sqrt/ratios on integer
    // counts round at 6.
    Q("q_text_ttr",
      (s, d) => {
        val tk = toks(s, d).join(docs(s, d).select("doc_id", "source"), "doc_id")
        tk.groupBy("source")
          .agg(count(lit(1)).as("n_tokens"),
            countDistinct(col("tok")).as("n_types"))
          .select(col("source"), col("n_tokens"), col("n_types"),
            round(col("n_types") * 1.0 / col("n_tokens"), 6).as("ttr"),
            round(col("n_types") / sqrt(col("n_tokens")), 6).as("root_ttr"))
          .orderBy("source")
      },
      Some(s"""WITH $toksSql,
               st AS (SELECT d.source, t.tok FROM toks t
                      JOIN documents d USING (doc_id))
               SELECT source, COUNT(*) AS n_tokens,
                 CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_types,
                 ROUND(COUNT(DISTINCT tok) * 1.0 / COUNT(*), 6) AS ttr,
                 ROUND(COUNT(DISTINCT tok) / SQRT(COUNT(*)), 6) AS root_ttr
               FROM st GROUP BY source ORDER BY source""")),

    // GOPHER-STYLE RULE FILTER: the named heuristic gate a pretraining
    // pipeline runs before any learned quality model — word-count
    // bounds, mean-word-length band, stopword presence, and a
    // top-token repetition cap, each reported per source as its own
    // pass count plus the all-rules survivor count (the per-rule
    // breakdown is the debugging surface: it says WHICH rule is eating
    // a source). One (doc, tok) aggregate feeds all four rules; flags
    // compare on the round-6 lattice so boundary docs land identically
    // in both engines.
    Q("q_text_gopher_rules",
      (s, d) => {
        val tf = toks(s, d).groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        val perDoc = tf.groupBy("doc_id").agg(
          sum("c").as("n_words"),
          sum(length(col("tok")) * col("c")).as("sum_len"),
          max("c").as("top_c"),
          max(when(col("tok").isin("the", "a", "of", "and"), 1L).otherwise(0L))
            .as("has_stop"))
        val flagged = docs(s, d).select(col("doc_id"), col("source"))
          .join(perDoc, "doc_id")
          .select(col("source"),
            col("n_words").between(30, 90).as("r_wc"),
            round(col("sum_len") * 1.0 / col("n_words"), 6).between(4.4, 4.7).as("r_mwl"),
            (col("has_stop") === 1).as("r_stop"),
            (round(col("top_c") * 1.0 / col("n_words"), 6) <= 0.2).as("r_rep"))
        flagged.groupBy("source").agg(
            count(lit(1)).as("n_docs"),
            sum(col("r_wc").cast("long")).as("n_wc"),
            sum(col("r_mwl").cast("long")).as("n_mwl"),
            sum(col("r_stop").cast("long")).as("n_stop"),
            sum(col("r_rep").cast("long")).as("n_rep"),
            sum((col("r_wc") && col("r_mwl") && col("r_stop") && col("r_rep"))
              .cast("long")).as("n_all"))
          .orderBy("source")
      },
      Some(s"""WITH $toksSql,
               tfg AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok),
               pd AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
                   SUM(length(tok) * c) AS sum_len, MAX(c) AS top_c,
                   MAX(CASE WHEN tok IN ('the','a','of','and') THEN 1 ELSE 0 END) AS has_stop
                 FROM tfg GROUP BY doc_id),
               fl AS (SELECT d.source,
                   pd.n_words BETWEEN 30 AND 90 AS r_wc,
                   ROUND(pd.sum_len * 1.0 / pd.n_words, 6) BETWEEN 4.4 AND 4.7 AS r_mwl,
                   pd.has_stop = 1 AS r_stop,
                   ROUND(pd.top_c * 1.0 / pd.n_words, 6) <= 0.2 AS r_rep
                 FROM documents d JOIN pd USING (doc_id))
               SELECT source, COUNT(*) AS n_docs,
                 CAST(SUM(CASE WHEN r_wc THEN 1 ELSE 0 END) AS BIGINT) AS n_wc,
                 CAST(SUM(CASE WHEN r_mwl THEN 1 ELSE 0 END) AS BIGINT) AS n_mwl,
                 CAST(SUM(CASE WHEN r_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
                 CAST(SUM(CASE WHEN r_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_rep,
                 CAST(SUM(CASE WHEN r_wc AND r_mwl AND r_stop AND r_rep
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_all
               FROM fl GROUP BY source ORDER BY source""")),

    // BM25 LEXICAL RETRIEVAL (Okapi, k1=1.2, b=0.75): queries = the
    // distinct token sets of doc_id < 5 (aligned with the vector rows'
    // vec_id < 5 queries), candidates = doc_id >= 5. One corpus-side
    // (doc, tok) aggregate, document lengths, df, and a broadcast of the
    // tiny query-term relation — the score join is a broadcast probe of
    // the tf relation followed by a partial-combining per-(q, doc) sum,
    // so the corpus is shuffled once no matter how many queries ride
    // along. idf = ln(1 + (N − df + 0.5)/(df + 0.5)) (the floor-at-zero
    // BM25+ form); scores round at 6 before ranking, ties to doc_id.
    Q("q_text_bm25",
      (s, d) => bm25Top(s, d, 5),
      Some(s"""WITH $toksSql, $bm25Sql
               SELECT q_id, rank, cand_id, bm25 FROM (
                 SELECT q_id, cand_id, bm25,
                   CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                     ORDER BY bm25 DESC, cand_id) AS BIGINT) AS rank
                 FROM bm) t
               WHERE rank <= 5 ORDER BY q_id, rank""")),

    // PERSISTED BM25 (the lexical build-once/query-many counterpart of
    // q_sim_pq_persisted): postings on disk partitioned by term-hash
    // bucket, df + corpus stats as side relations; a query's term
    // buckets dynamically prune the postings scan before anything
    // opens. Same ranking semantics as q_text_bm25 → same oracle.
    Q("q_text_bm25_persisted",
      (s, d) => {
        bm25PersistBuild(s, d)
        bm25PersistSearch(s, d, 5)
      },
      Some(s"""WITH $toksSql, $bm25Sql
               SELECT q_id, rank, cand_id, bm25 FROM (
                 SELECT q_id, cand_id, bm25,
                   CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                     ORDER BY bm25 DESC, cand_id) AS BIGINT) AS rank
                 FROM bm) t
               WHERE rank <= 5 ORDER BY q_id, rank""")),

    // HYBRID RETRIEVAL via RECIPROCAL RANK FUSION: the deployment-shape
    // ranker — BM25 lexical ranks and exact-cosine vector ranks over the
    // SAME query/candidate split (doc_id ↔ vec_id align 1:1), fused as
    // Σ 1/(60 + rank) with a missing side contributing 0 (a candidate
    // sharing no query token has no lexical rank). Both rank lists are
    // per-query row_numbers over corpus-wide scores; the fusion is a
    // full-outer join on (q_id, cand_id) + one arithmetic projection —
    // no re-scoring, which is RRF's point at scale: rank lists from ANY
    // retriever pair combine without calibrating score ranges.
    Q("q_sim_hybrid_rrf",
      (s, d) => hybridRrfTop(s, d),
      Some(s"""WITH $toksSql, $bm25Sql, ${Similarity.eSql}, ${Similarity.bruteSimsSql},
               $rrfSql
               SELECT q_id, rank, cand_id, rrf FROM rtop
               WHERE rank <= 5 ORDER BY q_id, rank""")),

    // HYBRID retrieval over the PERSISTED indexes — the full serving
    // stack in one row: the lexical side searches the on-disk BM25
    // postings (term-bucket-pruned scan), the vector side the on-disk
    // PQ codes (cell-pruned ADC), and RRF fuses the two TOP-5 SHORTLISTS
    // (unlike q_sim_hybrid_rrf's exact full-list fusion — fusing index
    // shortlists is what a deployment does, since neither index ever
    // materializes a corpus-wide rank list). Build once, query many;
    // missing sides contribute 0 to the fused score.
    Q("q_sim_hybrid_persisted",
      (s, d) => {
        bm25PersistBuild(s, d)
        Similarity.pqPersistBuild(s, d)
        val lex = bm25PersistSearch(s, d, 5)
          .select(col("q_id"), col("cand_id"), col("rank").as("lr"))
        val vec = Similarity.pqPersistSearch(s, d)
          .select(col("q_id"), col("cand_id"), col("rank").as("vr"))
        val fused = lex.join(vec, Seq("q_id", "cand_id"), "full_outer")
          .select(col("q_id"), col("cand_id"),
            round(coalesce(lit(1.0) / (lit(60) + col("lr")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("vr")), lit(0.0)), 6).as("rrf"))
        val w = Window.partitionBy(col("q_id")).orderBy(desc("rrf"), asc("cand_id"))
        fused.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
          .select(col("q_id"), col("rank"), col("cand_id"), col("rrf"))
          .orderBy("q_id", "rank")
      },
      // bm25Sql and pqScoresSql both name a CTE `cd`; the PQ side is
      // textually namespaced here (pure rename, no semantic change)
      Some(s"""WITH $toksSql, $bm25Sql, ${Similarity.eSql}, ${Similarity.ivfCellsSql},
               ${Similarity.pqScoresSql
                   .replace("cd AS (", "pqcd AS (")
                   .replace("FROM cd", "FROM pqcd")},
               btop AS (SELECT q_id, cand_id, lr FROM (
                   SELECT q_id, cand_id,
                     CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                       ORDER BY bm25 DESC, cand_id) AS BIGINT) AS lr FROM bm) t
                 WHERE lr <= 5),
               prn AS (SELECT p.q_id, p.cand_id, p.adot_u
                 FROM pqscores p
                 JOIN cells qc ON qc.vec_id = p.q_id
                 JOIN cells cc ON cc.vec_id = p.cand_id AND cc.cell = qc.cell),
               vtop AS (SELECT q_id, cand_id, vr FROM (
                   SELECT q_id, cand_id,
                     CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                       ORDER BY adot_u DESC, cand_id) AS BIGINT) AS vr FROM prn) t
                 WHERE vr <= 5),
               fused AS (SELECT COALESCE(b.q_id, v.q_id) AS q_id,
                   COALESCE(b.cand_id, v.cand_id) AS cand_id,
                   ROUND(COALESCE(1.0 / (60 + b.lr), 0) +
                         COALESCE(1.0 / (60 + v.vr), 0), 6) AS rrf
                 FROM btop b FULL JOIN vtop v
                   ON v.q_id = b.q_id AND v.cand_id = b.cand_id)
               SELECT q_id, rank, cand_id, rrf FROM (
                 SELECT q_id, cand_id, rrf,
                   CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                     ORDER BY rrf DESC, cand_id) AS BIGINT) AS rank
                 FROM fused) t
               WHERE rank <= 5 ORDER BY q_id, rank""")),

    // RETRIEVAL QUALITY: nDCG@5 of the hybrid ranking with the exact
    // cosine similarity as the (continuous) relevance grade — the
    // evaluator that says whether fusing the lexical ranks HELPED over
    // pure vector search (whose nDCG is 1 by construction against its
    // own grades). DCG = Σ rel(r)/log2(r+1) over the fused top-5; IDCG
    // the same over the cosine-ideal top-5; both engines sum the same 5
    // rounded grades.
    Q("q_sim_hybrid_ndcg",
      (s, d) => {
        val sims = Similarity.bruteSims(s, d)
        val fusedRel = hybridRrfTop(s, d)
          .select(col("q_id"), col("rank"), col("cand_id"))
          .join(sims, Seq("q_id", "cand_id"))
        val dcg = fusedRel.groupBy("q_id")
          .agg(round(sum(col("sim") / log(2.0, col("rank") + 1)), 6).as("dcg"))
        val wI = Window.partitionBy(col("q_id")).orderBy(desc("sim"), asc("cand_id"))
        val idcg = sims.withColumn("irank", row_number().over(wI).cast("long"))
          .filter(col("irank") <= 5)
          .groupBy("q_id")
          .agg(round(sum(col("sim") / log(2.0, col("irank") + 1)), 6).as("idcg"))
        dcg.join(idcg, "q_id")
          .select(col("q_id"), col("dcg"), col("idcg"),
            round(col("dcg") / col("idcg"), 6).as("ndcg"))
          .orderBy("q_id")
      },
      Some(s"""WITH $toksSql, $bm25Sql, ${Similarity.eSql}, ${Similarity.bruteSimsSql},
               $rrfSql,
               dcg AS (SELECT t.q_id,
                   ROUND(SUM(b.sim / log2(t.rank + 1)), 6) AS dcg
                 FROM rtop t JOIN bsims b
                   ON b.q_id = t.q_id AND b.cand_id = t.cand_id
                 WHERE t.rank <= 5 GROUP BY t.q_id),
               idcg AS (SELECT q_id, ROUND(SUM(sim / log2(irank + 1)), 6) AS idcg
                 FROM (SELECT q_id, sim,
                     CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                       ORDER BY sim DESC, cand_id) AS BIGINT) AS irank
                   FROM bsims) r
                 WHERE irank <= 5 GROUP BY q_id)
               SELECT q_id, dcg, idcg, ROUND(dcg / idcg, 6) AS ndcg
               FROM dcg JOIN idcg USING (q_id) ORDER BY q_id"""))
  )

  /** hybrid BM25+cosine RRF top-5; SQL twin: [[rrfSql]]'s `rtop`. */
  private def hybridRrfTop(s: SparkSession, d: String): DataFrame = {
    val wB = Window.partitionBy(col("q_id")).orderBy(desc("bm25"), asc("cand_id"))
    val lex = bm25Scores(s, d)
      .withColumn("lr", row_number().over(wB))
      .select(col("q_id"), col("cand_id"), col("lr"))
    val wV = Window.partitionBy(col("q_id")).orderBy(desc("sim"), asc("cand_id"))
    val vec = Similarity.bruteSims(s, d)
      .withColumn("vr", row_number().over(wV))
      .select(col("q_id"), col("cand_id"), col("vr"))
    val fused = lex.join(vec, Seq("q_id", "cand_id"), "full_outer")
      .select(col("q_id"), col("cand_id"),
        round(coalesce(lit(1.0) / (lit(60) + col("lr")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("vr")), lit(0.0)), 6).as("rrf"))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("rrf"), asc("cand_id"))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("cand_id"), col("rrf"))
      .orderBy("q_id", "rank")
  }

  /** RRF fusion chain (expects bm + bsims CTEs) → rtop(q_id, rank,
    * cand_id, rrf). A def: referenced from defs's initializer. */
  private def rrfSql =
    """lex AS (SELECT q_id, cand_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id
           ORDER BY bm25 DESC, cand_id) AS BIGINT) AS lr FROM bm),
       vec AS (SELECT q_id, cand_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id
           ORDER BY sim DESC, cand_id) AS BIGINT) AS vr FROM bsims),
       fused AS (SELECT COALESCE(lex.q_id, vec.q_id) AS q_id,
         COALESCE(lex.cand_id, vec.cand_id) AS cand_id,
         ROUND(COALESCE(1.0 / (60 + lr), 0) +
               COALESCE(1.0 / (60 + vr), 0), 6) AS rrf
         FROM lex FULL JOIN vec
           ON lex.q_id = vec.q_id AND lex.cand_id = vec.cand_id),
       rtop AS (SELECT q_id, cand_id, rrf,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id
           ORDER BY rrf DESC, cand_id) AS BIGINT) AS rank
         FROM fused)"""

  /** BM25 scores per (query, candidate) over the shared token relation;
    * SQL twin: [[bm25Sql]]'s `bm` CTE. */
  private def bm25Scores(s: SparkSession, d: String): DataFrame = {
    val tk = toks(s, d)
    val cd = tk.filter(col("doc_id") >= 5)
    val tf = cd.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dl = cd.groupBy("doc_id").agg(count(lit(1)).cast("double").as("len"))
    val stats = dl.agg(count(lit(1)).cast("double").as("nd"),
      avg(col("len")).as("avglen"))
    val dfq = tf.groupBy("tok").agg(count(lit(1)).cast("double").as("df"))
    val qt = tk.filter(col("doc_id") < 5)
      .select(col("doc_id").as("q_id"), col("tok")).distinct()
    tf.join(broadcast(qt), "tok")
      .join(dl, "doc_id")
      .join(broadcast(dfq), "tok")
      .crossJoin(broadcast(stats))
      .groupBy(col("q_id"), col("doc_id").as("cand_id"))
      .agg(round(sum(
        log(lit(1.0) + (col("nd") - col("df") + 0.5) / (col("df") + 0.5)) *
          col("tf") * 2.2 /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("len") / col("avglen")))), 6)
        .as("bm25"))
  }

  private def bm25Top(s: SparkSession, d: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(desc("bm25"), asc("cand_id"))
    bm25Scores(s, d).withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("cand_id"), col("bm25"))
      .orderBy("q_id", "rank")
  }

  /** per-JVM scratch for the persisted BM25 inverted index */
  private lazy val bm25IdxDir: String =
    graft.GraftSession.tempDirCleanedOnExit("graft-bm25").resolve("postings").toString
  private lazy val bm25SideDir: String =
    graft.GraftSession.tempDirCleanedOnExit("graft-bm25-side").resolve("side").toString

  private val bm25Buckets = 16
  private def termBucket(c: org.apache.spark.sql.Column) =
    pmod(xxhash64(c), lit(bm25Buckets)).cast("int")

  /** Fingerprint ([[graft.Memo.fingerprint]]) of the corpus the on-disk
    * postings currently serve: one slot for the one index dir per JVM,
    * the same contract as the PQ index's, so a dataset regenerated at
    * the same path rebuilds instead of serving a stale index. */
  private val bm25BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[Option[String]](None)

  /** BUILD the on-disk lexical index: postings (tok, doc_id, tf, len)
    * PARTITIONED BY TERM-HASH BUCKET, plus the df table and corpus
    * stats as small side relations — the build-once/query-many shape
    * the persisted IVF/PQ rows already have, for BM25. At corpus scale
    * the index build is one tokenize + two hash aggregates, run once. */
  private[graft] def bm25PersistBuild(s: SparkSession, d: String): Unit = {
    val fp = graft.Memo.fingerprint(s, d, Seq("documents"))
    if (fp.nonEmpty && bm25BuiltFor.get == fp) return
    val cd = toks(s, d).filter(col("doc_id") >= 5)
    val tf = cd.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dl = cd.groupBy("doc_id").agg(count(lit(1)).cast("double").as("len"))
    tf.join(dl, "doc_id")
      .withColumn("tb", termBucket(col("tok")))
      .write.mode("overwrite").partitionBy("tb").parquet(bm25IdxDir)
    tf.groupBy("tok").agg(count(lit(1)).cast("double").as("df"))
      .write.mode("overwrite").parquet(s"$bm25SideDir/df")
    dl.agg(count(lit(1)).cast("double").as("nd"), avg(col("len")).as("avglen"))
      .write.mode("overwrite").parquet(s"$bm25SideDir/stats")
    bm25BuiltFor.set(fp)
  }

  /** SEARCH the on-disk index: the query terms' buckets DYNAMICALLY
    * prune the postings scan (Bm25PersistSpec audits the plan), df and
    * stats broadcast, and only surviving postings are scored — the scan
    * opens |query-term buckets| / bm25Buckets of the index. */
  private[graft] def bm25PersistSearch(s: SparkSession, d: String, k: Int): DataFrame = {
    val qt = toks(s, d).filter(col("doc_id") < 5)
      .select(col("doc_id").as("q_id"), col("tok")).distinct()
      .withColumn("tb", termBucket(col("tok")))
    val scores = s.read.parquet(bm25IdxDir)
      .join(broadcast(qt), Seq("tb", "tok"))
      .join(broadcast(s.read.parquet(s"$bm25SideDir/df")), "tok")
      .crossJoin(broadcast(s.read.parquet(s"$bm25SideDir/stats")))
      .groupBy(col("q_id"), col("doc_id").as("cand_id"))
      .agg(round(sum(
        log(lit(1.0) + (col("nd") - col("df") + 0.5) / (col("df") + 0.5)) *
          col("tf") * 2.2 /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("len") / col("avglen")))), 6)
        .as("bm25"))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("bm25"), asc("cand_id"))
    scores.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("cand_id"), col("bm25"))
      .orderBy("q_id", "rank")
  }

  /** BM25 chain (expects a prior `toks` CTE) → bm(q_id, cand_id, bm25).
    * A def: referenced from defs's initializer, which runs before any
    * trailing val would be assigned. */
  private def bm25Sql =
    """cd AS (SELECT doc_id, tok FROM toks WHERE doc_id >= 5),
       tfq AS (SELECT doc_id, tok, COUNT(*) AS tf FROM cd GROUP BY doc_id, tok),
       dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS len FROM cd GROUP BY doc_id),
       bstats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd, AVG(len) AS avglen FROM dl),
       dfq AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tfq GROUP BY tok),
       qtt AS (SELECT DISTINCT doc_id AS q_id, tok FROM toks WHERE doc_id < 5),
       bm AS (SELECT qtt.q_id, tfq.doc_id AS cand_id,
         ROUND(SUM(LN(1.0 + (bstats.nd - dfq.df + 0.5) / (dfq.df + 0.5)) *
           tfq.tf * 2.2 /
           (tfq.tf + 1.2 * (0.25 + 0.75 * dl.len / bstats.avglen))), 6) AS bm25
         FROM qtt JOIN tfq USING (tok)
         JOIN dl ON dl.doc_id = tfq.doc_id
         JOIN dfq ON dfq.tok = tfq.tok
         CROSS JOIN bstats
         GROUP BY qtt.q_id, tfq.doc_id)"""
}
