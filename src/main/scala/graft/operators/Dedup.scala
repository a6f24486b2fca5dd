package graft.operators

import graft.{Q, QueryModule, Tables}
import graft.functions.TextHash
import graft.functions.VecOps.cosine
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale training-data pipelines: exact
  * (hash groupBy), MinHash+LSH banding, SimHash, and n-gram Jaccard.
  *
  * Everything is expressed with portable primitives (md5, split, slice)
  * so each stage has an exact DuckDB oracle: a MinHash value is the
  * lexicographic MIN of md5 hex slices over token shingles — identical in
  * any engine with md5 — rather than an engine-specific integer hash.
  *
  * Shingles are word n-grams over the WHOLE text (round 1 used character
  * windows over a 160-char prefix — cheaper per doc but blind to edits
  * past the prefix): ~1 shingle per word instead of ~1 per character, so
  * the dominant md5 path costs ~3× less while covering the full document.
  *
  * Scale posture: every stage is a map + hash-aggregate on (doc, band/bit)
  * keys — shuffle width bounded by docs × bands, never docs². Candidate
  * pairs come only from equal LSH band signatures (the standard
  * shingle→minhash→band→bucket-join pipeline), so the pair join is sparse.
  */
object Dedup extends QueryModule {

  // Declared-query/oracle config: 8 hashes in 2 bands of 4 keeps the
  // longhand SQL oracle cheap. Production dedup runs 64-128 hashes; the
  // knobs are ARGUMENTS of bands/candidatePairs below (numHashes any
  // positive multiple of 4), and ScaleBench's lshKnobs segment records the
  // 64-hash/16-band cost + pair-count curve on the same corpus.
  private val shingleWords = 3 // word n-gram size
  private val defaultNumHashes = 8
  private val defaultBandRows = 4 // → 2 bands
  private val simhashBits = 64

  /** documents pre-partitioned by doc_id for the CPU-bound shingle→md5
    * stage — see [[graft.Tables.cpuPartitioned]] for why the explicit
    * exchange is needed (single-row-group input would otherwise run the
    * whole hash pipeline as one task) and why it is not a net extra
    * shuffle (the doc_id clustering feeds the per-doc aggregates). */
  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.cpuPartitioned(s, d, "documents", "doc_id")

  /** lowercase word tokens, empties dropped — shared via [[TextExprs]] */
  private def toks(textCol: Column): Column = TextExprs.toks(textCol)

  private val toksSql = TextExprs.toksSql("text")

  private val shinglesSql =
    s"""sh AS (SELECT doc_id, array_to_string(tk[p:p + ${shingleWords - 1}], ' ') AS sh FROM (
         SELECT doc_id, tk, unnest(generate_series(1, len(tk) - ${shingleWords - 1})) AS p
         FROM (SELECT doc_id, $toksSql AS tk FROM documents) t0) t1)"""

  /** (doc_id, band, band_sig): LSH band signatures.
    *
    * Engine path: the native one-pass [[graft.functions.MinHashSig]]
    * expression (one md5 yields four independent 32-bit family values, so
    * 8 families cost TWO digests per shingle), then band signatures as a
    * md5 over each 4-value slice — a pure PROJECTION per document: no
    * shingle explode, no per-shingle expression rows, no aggregate, no
    * shuffle. The oracle states the identical computation longhand in SQL
    * (explode shingles → md5 → per-family MIN → band md5). */
  private[graft] def bands(s: SparkSession, d: String,
      numHashes: Int = defaultNumHashes, bandRows: Int = defaultBandRows): DataFrame =
    bandsOf(docs(s, d), numHashes, bandRows)

  /** [[bands]] over an ARBITRARY (doc_id, text) relation — the signature
    * projection is input-agnostic, which is what lets a streaming
    * micro-batch compute its own signatures with the exact arithmetic
    * the batch corpus store used (Streams.runNearDupIngest). */
  private[graft] def bandsOf(docsDf: DataFrame,
      numHashes: Int = defaultNumHashes, bandRows: Int = defaultBandRows): DataFrame = {
    // a leftover (numHashes % bandRows != 0) would silently drop hash
    // values from the banding — reduced recall with no signal (ADVICE r3)
    require(numHashes % bandRows == 0,
      s"numHashes ($numHashes) must be a multiple of bandRows ($bandRows)")
    val numBands = numHashes / bandRows
    val sig = TextHash.minhashSig(toks(col("text")), shingleWords, numHashes)
    val bandStructs = (0 until numBands).map { b =>
      val slice = (0 until bandRows).map(r => col("sig")(b * bandRows + r))
      struct(lit(b.toLong).as("band"), md5(concat_ws(",", slice: _*)).as("band_sig"))
    }
    docsDf
      .select(col("doc_id"), sig.as("sig"))
      .filter(col("sig").isNotNull) // docs with fewer than `shingleWords` tokens have no shingles
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.band_sig").as("band_sig"))
  }

  /** The incremental-dedup oracle (delta = doc_id % 10 == 7 probing the
    * rest-of-corpus band store) — shared verbatim by q_dedup_incremental
    * and q_stream_live_neardup: the streaming ingest must reproduce the
    * batch incremental result exactly, batch by batch. */
  private[graft] lazy val incrementalOracleSql: String =
    s"""WITH $minhashSql, $bandsSql,
        m AS (SELECT n.doc_id AS doc_id,
          COUNT(DISTINCT c.doc_id) AS n_corpus_matches,
          MIN(c.doc_id) AS first_match
          FROM bands n JOIN bands c
          ON n.band = c.band AND n.band_sig = c.band_sig AND c.doc_id % 10 != 7
          WHERE n.doc_id % 10 = 7 GROUP BY n.doc_id)
        SELECT d.doc_id, COALESCE(m.n_corpus_matches, 0) AS n_corpus_matches,
          m.first_match, m.first_match IS NOT NULL AS is_dup
        FROM documents d LEFT JOIN m USING (doc_id)
        WHERE d.doc_id % 10 = 7 ORDER BY doc_id"""

  /** Corpus + staged byte-level reformats (every 10th doc upcased with
    * doubled spacing) for the canonicalize-then-dedup queries — the
    * testdata's own dups are token-level, invisible to exact hashing. */
  private def normStaged(s: SparkSession, d: String): DataFrame = {
    val base = Tables(s, d, "documents").select("doc_id", "text", "source")
    base.unionByName(
      base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          regexp_replace(upper(col("text")), " ", "  ").as("text"),
          col("source")))
  }

  private val normStagedSql =
    """staged AS (
       SELECT doc_id, text, source FROM documents
       UNION ALL
       SELECT doc_id + 1000000, regexp_replace(upper(text), ' ', '  ', 'g'), source
       FROM documents WHERE doc_id % 10 = 0)"""

  /** ONE canonical-text definition for both normalization-dedup queries
    * (case-fold + collapse non-alnum runs + trim), with its SQL twin. */
  private val normCanon: Column =
    trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
  private val normCanonSql =
    "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"

  private val minhashSql =
    s"""$shinglesSql,
       shh AS (SELECT doc_id, md5(sh) AS m1, md5('x' || sh) AS m2 FROM sh),
       mh AS (SELECT doc_id, j,
         MIN(substring(CASE WHEN j < 4 THEN m1 ELSE m2 END, (j % 4) * 8 + 1, 8)) AS minh
         FROM shh CROSS JOIN (SELECT unnest(generate_series(0, ${defaultNumHashes - 1})) AS j) js
         GROUP BY doc_id, j)"""

  private val bandsSql =
    s"""bands AS (SELECT doc_id, j // $defaultBandRows AS band,
         md5(string_agg(minh, ',' ORDER BY j)) AS band_sig
         FROM mh GROUP BY doc_id, j // $defaultBandRows)"""

  /** (doc_a, doc_b) candidate near-dup pairs = docs sharing any band
    * signature — the one definition both the pairs query and the clusters
    * query lower to. Signatures are materialized once (the self-join would
    * otherwise recompute the full shingle→md5 pipeline per side: AQE
    * exchange reuse does not apply across differing join aliases), the
    * O(pairs)-sized result is checkpointed eagerly, and the signature
    * cache is dropped HERE instead of leaking until the harness's
    * clearCache (ADVICE r1). */
  private[graft] def candidatePairs(s: SparkSession, d: String,
      numHashes: Int = defaultNumHashes, bandRows: Int = defaultBandRows): DataFrame = {
    val b = bands(s, d, numHashes, bandRows).persist()
    val out = b.as("a").join(b.as("b"),
        col("a.band") === col("b.band") && col("a.band_sig") === col("b.band_sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .localCheckpoint()
    b.unpersist()
    out
  }

  /** Append exact gram-set overlap columns (gi, gna, gnb) to a
    * (doc_a, doc_b, …carry) pair relation: distinct w-grams per doc via
    * the native DistinctNGrams expression, pair expansion by side-a's
    * grams, a (doc, gram)-keyed probe of side b with a shuffle_hash hint
    * (the build side is corpus-scale — the static estimate under the
    * explode/checkpoint would broadcast it, which cannot survive 100 TB),
    * and per-doc totals. This is the ONE lexical-verify shape that
    * q_dedup_jaccard, q_dedup_minhash_est and q_dedup_semantic all lower
    * to (review r5: three copies had already appeared). Zero-overlap
    * pairs survive with gi = 0; result is eagerly checkpointed
    * (O(pairs)) and the gram blocks are released here. */
  private def gramOverlap(s: SparkSession, d: String, pairs: DataFrame,
      w: Int): DataFrame = {
    val carry = pairs.columns.toSeq
    val g = docs(s, d)
      .select(col("doc_id"),
        explode(TextHash.distinctNGrams(toks(col("text")), w)).as("gram"))
      .localCheckpoint()
    val inter = pairs.select("doc_a", "doc_b")
      .join(g.as("ga"), col("doc_a") === col("ga.doc_id"))
      .join(g.as("gb").hint("shuffle_hash"),
        col("doc_b") === col("gb.doc_id") && col("ga.gram") === col("gb.gram"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("gi0"))
    val n = g.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val out = pairs
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(n.as("na"), col("doc_a") === col("na.doc_id"))
      .join(n.as("nb"), col("doc_b") === col("nb.doc_id"))
      .select(carry.map(col) ++ Seq(
        coalesce(col("gi0"), lit(0L)).as("gi"),
        col("na.n").as("gna"), col("nb.n").as("gnb")): _*)
      .localCheckpoint()
    graft.plans.Iterate.release(g)
    out
  }

  /** the Jaccard expression over [[gramOverlap]]'s columns */
  private val gramJaccard: Column =
    col("gi") * 1.0 / (col("gna") + col("gnb") - col("gi"))

  /** SQL twin of [[gramOverlap]] for a prior `$pairsCte(doc_a, doc_b)`
    * CTE: g/n/i CTEs with the same w-gram definition. */
  private def gramOverlapSql(pairsCte: String, w: Int): String =
    s"""g AS (SELECT DISTINCT doc_id, array_to_string(tk[p:p + ${w - 1}], ' ') AS gram FROM (
         SELECT doc_id, tk, unnest(generate_series(1, len(tk) - ${w - 1})) AS p
         FROM (SELECT doc_id, $toksSql AS tk FROM documents) t0) t1),
       n AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
       i AS (SELECT p.doc_a, p.doc_b, COUNT(*) AS inter
         FROM $pairsCte p
         JOIN g a ON a.doc_id = p.doc_a
         JOIN g b ON b.doc_id = p.doc_b AND a.gram = b.gram
         GROUP BY p.doc_a, p.doc_b)"""

  private val pairsSql =
    """pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
         ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id)"""

  /** (doc_id, canon_id, keep) — pairs as edges, `clusterRounds` unrolled
    * min-label propagation rounds, cluster minimum as canonical id.
    * Shared by q_dedup_clusters and the Curation pipeline. */
  private val clusterRounds = 3
  private[operators] def clusterLabels(s: SparkSession, d: String): DataFrame = {
    val pairs = candidatePairs(s, d)
    // edge list is O(pairs), materialize once and free the pair blocks —
    // it is referenced by every propagation round below
    val edges = pairs.select(col("doc_a").as("v"), col("doc_b").as("n"))
      .union(pairs.select(col("doc_b").as("v"), col("doc_a").as("n")))
      .localCheckpoint()
    graft.plans.Iterate.release(pairs)
    val init = Tables(s, d, "documents")
      .select(col("doc_id").as("v"), col("doc_id").as("lab"))
    // each round eagerly checkpoints its (doc, label) output and frees the
    // previous round's blocks (Iterate.advance): without this, round k
    // re-executes rounds 1..k-1 — 3× the label-prop work — and the final
    // select re-derives the whole chain once more
    val lab = graft.plans.Iterate(init, clusterRounds, checkpointEvery = 0) { (lab, _) =>
      val fromNeighbors = edges.join(lab.withColumnRenamed("v", "nv"),
          col("n") === col("nv"))
        .select(col("v"), col("lab"))
      graft.plans.Iterate.advance(lab)(graft.plans.Iterate.pin(
        lab.select(col("v"), col("lab")).unionByName(fromNeighbors)
          .groupBy("v").agg(min("lab").as("lab"))))
    }
    // the final `lab` checkpoint is the only live dependency — free the
    // O(pairs) edge blocks now, not at the harness clearCache (ADVICE r3)
    graft.plans.Iterate.release(edges)
    lab.select(col("v").as("doc_id"), col("lab").as("canon_id"),
      (col("v") === col("lab")).as("keep"))
  }

  /** CTE chain ending in l{clusterRounds}(v, lab) — the oracle half of
    * [[clusterLabels]]. */
  private[operators] val clustersSqlCtes: String = {
    val rounds = (1 to clusterRounds).map { i =>
      s"""l$i AS (SELECT v, MIN(lab) AS lab FROM (
           SELECT v, lab FROM l${i - 1}
           UNION ALL SELECT e.v, l.lab FROM edges e JOIN l${i - 1} l ON e.n = l.v) u
         GROUP BY v)"""
    }.mkString(",\n")
    s"""$minhashSql, $bandsSql, $pairsSql,
       edges AS (SELECT doc_a AS v, doc_b AS n FROM pairs
                 UNION ALL SELECT doc_b, doc_a FROM pairs),
       l0 AS (SELECT doc_id AS v, doc_id AS lab FROM documents),
       $rounds"""
  }

  /** Embedding-space decontamination oracle — shared VERBATIM by the
    * batch row (q_dedup_decontaminate_semantic) and the streaming-ingest
    * row (q_stream_live_decontam), which must produce the identical
    * verdict relation batch-by-batch. */
  private[operators] val decontamSemSql: String =
    s"""WITH ${graft.operators.Similarity.eSql},
        ev AS (SELECT vec_id AS eval_id, pos, ev AS qv FROM e WHERE vec_id < 50),
        tr AS (SELECT vec_id, pos, ev AS cv FROM e WHERE vec_id >= 50),
        sims AS (SELECT tr.vec_id, ev.eval_id,
          ROUND(SUM(tr.cv * ev.qv) /
            (SQRT(SUM(tr.cv * tr.cv)) * SQRT(SUM(ev.qv * ev.qv))), 6) AS sim
          FROM tr JOIN ev USING (pos) GROUP BY 1, 2),
        best AS (SELECT vec_id, sim AS max_sim, eval_id AS nearest_eval
          FROM sims QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
            ORDER BY sim DESC, eval_id) = 1)
        SELECT vec_id, max_sim, nearest_eval, max_sim >= 0.30 AS contaminated
        FROM best ORDER BY vec_id"""

  override val defs: Seq[Q] = Seq(

    // exact dedup: content-hash groupBy per source
    Q("q_dedup_exact",
      (s, d) => Tables(s, d, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), countDistinct(md5(col("text"))).as("n_unique"))
        .orderBy("source"),
      Some("""SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_unique
              FROM documents GROUP BY source ORDER BY source""")),

    // Canonicalize-then-dedup: the production exact-dedup recipe is never
    // raw-byte equality — crawl text is first normalized (case-fold,
    // punctuation/whitespace runs collapsed) so trivially-reformatted
    // copies hash together. The testdata's duplicates are token-level
    // near-dups (minhash territory) with no byte-level reformats, so the
    // query stages its own: every 10th doc re-enters the corpus upcased
    // with doubled spacing — the classic mirror-site reformat. The raw
    // hash keeps the copies apart; the canonical hash collapses them.
    // Pure projection + one hash-agg: zero extra shuffles at any scale.
    Q("q_dedup_normalized",
      (s, d) => normStaged(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_unique_raw"),
          countDistinct(md5(normCanon)).as("n_unique_norm"))
        .orderBy("source"),
      Some(s"""WITH $normStagedSql
              SELECT source, COUNT(*) AS n_docs,
              COUNT(DISTINCT md5(text)) AS n_unique_raw,
              COUNT(DISTINCT md5($normCanonSql)) AS n_unique_norm
              FROM staged GROUP BY source ORDER BY source""")),

    // The groups normalization (alone) collapses: canonical-form hash →
    // surviving doc (min id) + member count. HAVING >1 keeps the output
    // O(dup groups), not O(corpus).
    Q("q_dedup_norm_groups",
      (s, d) => normStaged(s, d)
        .select(col("doc_id"), md5(normCanon).as("norm_hash"))
        .groupBy("norm_hash")
        .agg(min("doc_id").as("keep_doc"), count(lit(1)).as("n_members"))
        .filter(col("n_members") > 1)
        .orderBy("keep_doc"),
      Some(s"""WITH $normStagedSql
              SELECT md5($normCanonSql) AS norm_hash,
              MIN(doc_id) AS keep_doc, COUNT(*) AS n_members
              FROM staged GROUP BY norm_hash HAVING COUNT(*) > 1
              ORDER BY keep_doc""")),

    Q("q_dedup_minhash",
      (s, d) => bands(s, d).orderBy("doc_id", "band"),
      Some(s"""WITH $minhashSql, $bandsSql
               SELECT doc_id, band, band_sig FROM bands ORDER BY doc_id, band""")),

    // candidate near-dup pairs = docs sharing any band signature
    Q("q_dedup_minhash_pairs",
      (s, d) => candidatePairs(s, d).orderBy("doc_a", "doc_b"),
      Some(s"""WITH $minhashSql, $bandsSql, $pairsSql
               SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b""")),

    // ESTIMATOR-QUALITY evaluation of the sketch itself: for every LSH
    // candidate pair, the MinHash-estimated Jaccard (fraction of equal
    // signature components) next to the EXACT shingle-set Jaccard and the
    // absolute error — the number that tells you whether 8 hashes are
    // enough before you turn the knob on a 100 TB corpus (the dedup
    // analogue of the ANN recall rows). Signatures and shingle sets are
    // each materialized once; the exact side is the q_dedup_jaccard probe
    // shape on the SAME shingle universe the sketch hashed.
    Q("q_dedup_minhash_est",
      (s, d) => {
        val pairs = candidatePairs(s, d)
        val sigRel = docs(s, d)
          .select(col("doc_id"),
            TextHash.minhashSig(toks(col("text")), shingleWords, defaultNumHashes).as("sig"))
          .filter(col("sig").isNotNull).localCheckpoint()
        val est = pairs
          .join(sigRel.as("sa"), col("doc_a") === col("sa.doc_id"))
          .join(sigRel.as("sb"), col("doc_b") === col("sb.doc_id"))
          .select(col("doc_a"), col("doc_b"),
            (expr("size(filter(zip_with(sa.sig, sb.sig, (x, y) -> x = y), b -> b))")
              * 1.0 / defaultNumHashes).as("est_j"))
          .localCheckpoint() // referenced twice inside gramOverlap
        val out = gramOverlap(s, d, est, shingleWords)
          .select(col("doc_a"), col("doc_b"),
            round(col("est_j"), 6).as("est_j"),
            round(gramJaccard, 6).as("exact_j"),
            round(abs(col("est_j") - gramJaccard), 6).as("abs_err"))
          .orderBy("doc_a", "doc_b")
          .localCheckpoint()
        graft.plans.Iterate.release(est)
        graft.plans.Iterate.release(sigRel)
        graft.plans.Iterate.release(pairs)
        out
      },
      Some(s"""WITH $minhashSql, $bandsSql, $pairsSql,
              est AS (SELECT doc_a, doc_b,
                SUM(CASE WHEN ma.minh = mb.minh THEN 1 ELSE 0 END) * 1.0
                  / $defaultNumHashes AS est_j
                FROM pairs JOIN mh ma ON ma.doc_id = doc_a
                JOIN mh mb ON mb.doc_id = doc_b AND mb.j = ma.j
                GROUP BY doc_a, doc_b),
              -- reuses the sh shingle CTE the sketch itself hashed (same
              -- w-gram definition as gramOverlapSql, no recompute)
              g AS (SELECT DISTINCT doc_id, sh AS gram FROM sh),
              inter AS (SELECT doc_a, doc_b, COUNT(*) AS i
                FROM pairs JOIN g ga ON ga.doc_id = doc_a
                JOIN g gb ON gb.doc_id = doc_b AND gb.gram = ga.gram
                GROUP BY doc_a, doc_b),
              n AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id)
              SELECT est.doc_a, est.doc_b, ROUND(est_j, 6) AS est_j,
                ROUND(COALESCE(i, 0) * 1.0 / (na.n + nb.n - COALESCE(i, 0)), 6) AS exact_j,
                ROUND(ABS(est_j - COALESCE(i, 0) * 1.0
                          / (na.n + nb.n - COALESCE(i, 0))), 6) AS abs_err
              FROM est LEFT JOIN inter USING (doc_a, doc_b)
              JOIN n na ON na.doc_id = est.doc_a
              JOIN n nb ON nb.doc_id = est.doc_b
              ORDER BY doc_a, doc_b""")),

    // INCREMENTAL dedup — the production shape: you never re-dedup the
    // 100 TB corpus, you dedup today's delta AGAINST it. Delta docs
    // (doc_id % 10 == 7 here) probe the corpus's band signatures; a delta
    // doc sharing any band with a corpus doc is a near-dup arrival. At
    // scale the corpus side is a PRECOMPUTED signature store (signatures
    // are per-doc projections, computed once at ingest — here both sides
    // come from one persisted pass for the oracle's sake); the probe join
    // is band-bucketed so each delta row meets only its bucket, and the
    // delta→verdict output is O(delta), never O(corpus).
    Q("q_dedup_incremental",
      (s, d) => {
        // (oracle shared with q_stream_live_neardup — incrementalOracleSql)
        val b = bands(s, d).persist()
        val delta = b.filter(col("doc_id") % 10 === 7)
        val corpus = b.filter(col("doc_id") % 10 =!= 7)
        val matches = delta.as("n").join(corpus.as("c"),
            col("n.band") === col("c.band") && col("n.band_sig") === col("c.band_sig"))
          .groupBy(col("n.doc_id").as("doc_id"))
          .agg(countDistinct(col("c.doc_id")).as("n_corpus_matches"),
            min(col("c.doc_id")).as("first_match"))
        val out = Tables(s, d, "documents").select(col("doc_id"))
          .filter(col("doc_id") % 10 === 7)
          .join(matches, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_corpus_matches"), lit(0L)).as("n_corpus_matches"),
            col("first_match"),
            col("first_match").isNotNull.as("is_dup"))
          .orderBy("doc_id")
          .localCheckpoint()
        b.unpersist()
        out
      },
      Some(incrementalOracleSql)),

    // BLOOM-pre-filtered incremental exact dedup — the membership-test
    // scale pattern: against a 100 TB corpus you don't join the delta to
    // the corpus, you broadcast a Bloom filter of corpus content-hashes
    // (O(bits), built by one distributed aggregate) and pre-filter the
    // delta to the rows that MIGHT be dups. A bloom negative is a
    // DEFINITELY-new doc (no false negatives); only the bloom-positive
    // sliver reaches the exact verify, and the verify is shaped so the
    // corpus NEVER shuffles: the (tiny) candidate hash set broadcasts
    // into a semi-join against the corpus scan, and only matched hashes
    // come back. False positives die in the verify, so the declared
    // output is exactly the anti-join — deterministic, oracle = plain
    // SQL, regardless of bloom seeding. mightContain is a Scala UDF
    // (Spark exposes no DataFrame bloom-probe expression); it sits on
    // the delta scan only, off the corpus hot path.
    Q("q_dedup_bloom",
      (s, d) => {
        val docs = Tables(s, d, "documents")
          .select(col("doc_id"), md5(col("text")).as("h"))
        val delta = docs.filter(col("doc_id") % 10 === 7)
        val corpus = docs.filter(col("doc_id") % 10 =!= 7).persist()
        val bloom = corpus.stat.bloomFilter("h", math.max(corpus.count(), 1L), 0.01)
        val bc = s.sparkContext.broadcast(bloom)
        val mightContain = udf((h: String) => bc.value.mightContain(h))
        val candidates = delta.filter(mightContain(col("h")))
        val matched = corpus
          .join(broadcast(candidates.select("h").distinct()), Seq("h"), "left_semi")
          .select("h").distinct()
        val out = delta
          .join(broadcast(matched.withColumn("seen", lit(true))), Seq("h"), "left")
          .select(col("doc_id"), coalesce(col("seen"), lit(false)).as("is_dup"))
          .orderBy("doc_id")
          .localCheckpoint()
        corpus.unpersist()
        // unpersist (not destroy): localCheckpoint blocks can be evicted
        // under pressure, and a recompute would re-probe the broadcast —
        // unpersist frees executor copies now but stays re-broadcastable.
        bc.unpersist()
        out
      },
      Some("""SELECT d.doc_id,
                EXISTS (SELECT 1 FROM documents c
                        WHERE c.doc_id % 10 != 7 AND md5(c.text) = md5(d.text)) AS is_dup
              FROM documents d WHERE d.doc_id % 10 = 7 ORDER BY doc_id""")),

    // Dedup CLUSTERS: the pipeline step a curation job actually acts on.
    // Candidate pairs (shared band signature) become edges; 3 unrolled
    // min-label propagation rounds assign every document its cluster's
    // minimum doc_id as canonical representative; keep = (doc == canon).
    // Band-clusters are near-cliques (diameter ≤ 2 in practice) so 3
    // rounds converge, and the oracle unrolls the SAME 3 rounds — at
    // unbounded diameters this is q_graph_cc's pointer-jumping shape.
    // Scale: edges are the sparse LSH pair set, labels are (doc, long)
    // rows; each round is one equi-join + one min-agg, both doc-keyed.
    Q("q_dedup_clusters",
      (s, d) => clusterLabels(s, d).orderBy("doc_id"),
      Some(s"""WITH $clustersSqlCtes
           SELECT v AS doc_id, lab AS canon_id, v = lab AS keep
           FROM l3 ORDER BY doc_id""")),

    // Canonical-by-QUALITY selection: production dedup keeps the BEST
    // document of each near-dup cluster (highest quality score, ties by
    // id), not the lowest id — the min-id canon of q_dedup_clusters is a
    // label, not an editorial choice. One quality projection + one
    // cluster-keyed window rank; rounding the score BEFORE ranking keeps
    // the tie-break engine-portable.
    Q("q_dedup_canonical_quality",
      (s, d) => {
        val qual = Tables(s, d, "documents").select(col("doc_id"),
          round(TextExprs.qualityScore(lower(col("text"))), 6).as("quality"))
        // best-per-cluster as a max_by aggregate + equi-join, not a
        // cluster-keyed row_number window: a viral dup cluster is one
        // single-task window partition, while the aggregate partial-
        // combines to one row per cluster and the join back is
        // AQE-skew-splittable. Checkpoint so the cluster labels compute
        // once for both the aggregate and the join side.
        val lbl = clusterLabels(s, d).join(qual, "doc_id").localCheckpoint()
        val best = lbl.groupBy("canon_id")
          .agg(max_by(col("doc_id"), struct(col("quality"), -col("doc_id")))
            .as("best_doc"))
        val out = lbl.join(best, "canon_id")
          .withColumn("keep_best", col("doc_id") === col("best_doc"))
          .select(col("doc_id"), col("canon_id"), col("keep_best"), col("quality"))
          .orderBy("doc_id").localCheckpoint()
        graft.plans.Iterate.release(lbl)
        out
      },
      Some(s"""WITH $clustersSqlCtes,
           qual AS (SELECT doc_id,
             ROUND(${TextExprs.qualityScoreSql("lower(text)")}, 6) AS quality
             FROM documents)
           SELECT v AS doc_id, lab AS canon_id,
             ROW_NUMBER() OVER (PARTITION BY lab ORDER BY quality DESC, v) = 1
               AS keep_best,
             quality
           FROM l3 JOIN qual ON qual.doc_id = l3.v ORDER BY doc_id""")),

    // SimHash: 64-bit signature, per-bit majority vote over token hashes
    // (TWO md5 per token: 64 hex-nibble draws, bit j votes on nibble < 8).
    // Engine path is the native one-pass SimHashSig expression — a pure
    // projection per document, no token explode and no 64-column aggregate.
    Q("q_dedup_simhash",
      (s, d) => docs(s, d)
        .select(col("doc_id"), TextHash.simhashSig(toks(col("text"))).as("simhash"))
        .filter(col("simhash").isNotNull) // docs with zero tokens have no votes
        .orderBy("doc_id"),
      Some {
        val votes = (0 until simhashBits).map { j =>
          val m = if (j < 32) "m1" else "m2"
          s"SUM(CASE WHEN substring($m, ${j % 32 + 1}, 1) < '8' THEN 1 ELSE -1 END) AS v$j"
        }.mkString(", ")
        val bits = (0 until simhashBits).map(j =>
          s"CASE WHEN v$j >= 0 THEN '1' ELSE '0' END").mkString(" || ")
        s"""WITH toks AS (SELECT doc_id, md5(tok) AS m1, md5('x' || tok) AS m2 FROM (
              SELECT doc_id, unnest($toksSql) AS tok FROM documents) t),
            votes AS (SELECT doc_id, $votes FROM toks GROUP BY doc_id)
            SELECT doc_id, $bits AS simhash FROM votes ORDER BY doc_id"""
      }),

    // ASYMMETRIC CONTAINMENT pairs: |A∩B| / min(|A|,|B|) over distinct
    // 3-gram sets — the metric that catches SUBSET duplication (a doc
    // quoted wholesale inside a larger one), which symmetric Jaccard
    // dilutes below any threshold as the container grows. The smaller
    // set is the CONTAINED side (ties to the lower id).
    //
    // Candidates come from the containment-adapted PREFIX FILTER (r6
    // verdict #1 — the raw gram-gram self-join was the last declared
    // plan that could go quadratic on a hot shared shingle): each doc's
    // grams sort by ONE global (df, gram) order, and the candidate join
    // probes only the SMALLER doc's prefix against the larger doc's
    // full gram list. Complete by pigeonhole: cont >= t means the
    // smaller doc (m grams) shares >= ceil(t*m) grams with the larger,
    // so its first m - ceil(t*m) + 1 grams cannot all miss — one of
    // them IS a shared gram, present verbatim in the larger doc's full
    // list. Prefixes hold each doc's globally RAREST grams, so a
    // boilerplate gram shared by f docs contributes ~0 prefix rows
    // instead of C(f,2) candidate pairs (ContainmentPrefixSpec proves
    // zero false negatives; DedupScale measures the hot-gram corpus).
    // Verification is brute-force-equivalent, so the UNCHANGED oracle
    // hash re-proves completeness every round.
    Q("q_dedup_containment",
      (s, d) => {
        // grams enter the pipeline as 128-bit byte-level hashes, never as
        // strings (optimization r15, guide §2.3/§4 — shuffle fewer bytes,
        // codegen-friendly fixed-width keys): every downstream stage
        // (df counts, prefix sort, candidate join, verify intersection)
        // only needs gram EQUALITY and one consistent global order, both
        // preserved by the (h1, h2) pair; at 128 bits hash-equality is
        // exact to < 1e-14 even at 10^12 distinct grams, and the oracle
        // hash (string grams) re-proves equality at every gate SF.
        val g = docs(s, d).select(col("doc_id"),
            explode(containmentGramCol(col("text"))).as("gram"))
          .localCheckpoint() // consumed by df counts, prefixes + both verify sides
        // materialize the O(dup pairs) result before releasing g — the
        // returned frame must not re-run over a dropped checkpoint
        val out = containmentPairs(g, 0.8).localCheckpoint()
        graft.plans.Iterate.release(g)
        out
      },
      Some(s"""WITH base AS (SELECT doc_id, $toksSql AS tk FROM documents),
              g AS (SELECT DISTINCT doc_id, array_to_string(tk[p:p + 2], ' ') AS gram
                FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS p
                      FROM base) t),
              sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
              i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
                FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
              sc AS (SELECT i.doc_a, i.doc_b, i.i, na.n AS na, nb.n AS nb,
                  ROUND(i.i * 1.0 / LEAST(na.n, nb.n), 6) AS cont
                FROM i JOIN sz na ON i.doc_a = na.doc_id
                JOIN sz nb ON i.doc_b = nb.doc_id)
              SELECT CASE WHEN na < nb THEN doc_a WHEN nb < na THEN doc_b
                       ELSE LEAST(doc_a, doc_b) END AS contained,
                CASE WHEN na < nb THEN doc_b WHEN nb < na THEN doc_a
                  ELSE GREATEST(doc_a, doc_b) END AS container,
                i, cont
              FROM sc WHERE cont >= 0.8 ORDER BY contained, container""")),

    // SimHash NEAR-DUP PAIRS via BANDED blocking: the 64-bit signature
    // splits into four 16-bit bands; by pigeonhole, any pair within
    // Hamming distance 3 agrees EXACTLY on at least one band, so the
    // band-equality self-join is a COMPLETE candidate generator for
    // t = 3 (not an approximation — the only filtering the verify step
    // does is dropping candidates over the radius). Candidates then
    // verify with an exact 64-position Hamming count. The join blocks
    // on (band index, 16 bits): ~N/2^16 expected bucket sizes at scale,
    // the standard multi-index Hamming search layout.
    Q("q_dedup_simhash_pairs",
      (s, d) => {
        val sigs = docs(s, d)
          .select(col("doc_id"), TextHash.simhashSig(toks(col("text"))).as("sig"))
          .filter(col("sig").isNotNull)
          .localCheckpoint() // referenced by 4 band projections + verify
        val bands = sigs.select(col("doc_id"), col("sig"),
            explode(expr("transform(sequence(0, 3), b -> " +
              "named_struct('b', b, 'bits', substring(sig, b * 16 + 1, 16)))")).as("bd"))
          .select(col("doc_id"), col("sig"), col("bd.b").as("b"), col("bd.bits").as("bits"))
        val cand = bands.as("x").join(bands.as("y"),
            col("x.b") === col("y.b") && col("x.bits") === col("y.bits") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
            col("x.sig").as("sig_a"), col("y.sig").as("sig_b"))
          .distinct()
        // codegen'd byte-scan Hamming (one compiled loop per candidate;
        // the SQL aggregate fold evaluated 64 substring pairs per row)
        cand.withColumn("hamming",
            TextHash.hammingBits(col("sig_a"), col("sig_b")))
          .filter(col("hamming") <= 3)
          .select(col("doc_a"), col("doc_b"), col("hamming"))
          .orderBy("doc_a", "doc_b")
      },
      Some {
        val votes = (0 until simhashBits).map { j =>
          val m = if (j < 32) "m1" else "m2"
          s"SUM(CASE WHEN substring($m, ${j % 32 + 1}, 1) < '8' THEN 1 ELSE -1 END) AS v$j"
        }.mkString(", ")
        val bits = (0 until simhashBits).map(j =>
          s"CASE WHEN v$j >= 0 THEN '1' ELSE '0' END").mkString(" || ")
        s"""WITH tk AS (SELECT doc_id, md5(tok) AS m1, md5('x' || tok) AS m2 FROM (
              SELECT doc_id, unnest($toksSql) AS tok FROM documents) t),
            votes AS (SELECT doc_id, $votes FROM tk GROUP BY doc_id),
            sigs AS (SELECT doc_id, $bits AS sig FROM votes),
            bands AS (SELECT doc_id, sig, b, substring(sig, b * 16 + 1, 16) AS bits
              FROM sigs CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) bs),
            cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                x.sig AS sig_a, y.sig AS sig_b
              FROM bands x JOIN bands y
                ON x.b = y.b AND x.bits = y.bits AND x.doc_id < y.doc_id),
            ham AS (SELECT doc_a, doc_b, CAST(SUM(CASE WHEN
                  substring(sig_a, j, 1) = substring(sig_b, j, 1)
                  THEN 0 ELSE 1 END) AS BIGINT) AS hamming
              FROM cand CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS j) js
              GROUP BY doc_a, doc_b)
            SELECT doc_a, doc_b, hamming FROM ham
            WHERE hamming <= 3 ORDER BY doc_a, doc_b"""
      }),

    // word-bigram Jaccard VERIFICATION of the LSH candidate pairs — the
    // second stage of the dedup funnel: LSH proposes (cheap, approximate),
    // Jaccard over the full distinct-bigram sets verifies (exact). Pairs
    // whose candidate status was a pure minhash coincidence (zero shared
    // bigrams) drop out of the inner join in both engine and oracle.
    Q("q_dedup_jaccard",
      (s, d) => {
        val pairs = candidatePairs(s, d) // eagerly checkpointed, O(pairs)
        // shared verify shape (gramOverlap): pair expansion by side-a's
        // grams, shuffle_hash probe of side b, per-doc totals. This row
        // keeps its historical contract of emitting only overlapping
        // pairs (gi > 0).
        val out = gramOverlap(s, d, pairs, 2)
          .filter(col("gi") > 0)
          .select(col("doc_a"), col("doc_b"),
            round(gramJaccard, 6).as("jaccard"))
          .orderBy("doc_a", "doc_b")
          .localCheckpoint() // eager; O(doc pairs), small
        graft.plans.Iterate.release(pairs) // not at harness clearCache
        out
      },
      Some(s"""WITH $minhashSql, $bandsSql, $pairsSql,
              ${gramOverlapSql("pairs", 2)}
              SELECT doc_a, doc_b,
                ROUND(inter * 1.0 / (na.n + nb.n - inter), 6) AS jaccard
              FROM i JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b
              ORDER BY doc_a, doc_b""")),

    // CROSS-MODAL semantic dedup: embedding-space near-dup candidates
    // (the DECLARED q_sim_neardup query — vec_id is the doc_id of the
    // document the vector embeds, the testdata's 1:1 convention) verified
    // by LEXICAL 2-gram Jaccard on the corresponding texts. Semantic
    // recall finds paraphrases exact hashing misses; the lexical score
    // says which candidates are also surface dups — the two-signal
    // curation decision. Candidate set is O(near-dup pairs); the verify
    // is the bounded q_dedup_jaccard probe shape.
    Q("q_dedup_semantic",
      (s, d) => {
        val pairs = graft.SparkEntry.queries("q_sim_neardup")(s, d)
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
            col("sim").as("cos_sim"))
          .localCheckpoint()
        val out = gramOverlap(s, d, pairs, 2)
          .select(col("doc_a"), col("doc_b"), col("cos_sim"),
            round(gramJaccard, 6).as("lex_j"),
            (gramJaccard >= 0.3).as("lexical_dup"))
          .orderBy("doc_a", "doc_b")
          .localCheckpoint()
        graft.plans.Iterate.release(pairs)
        out
      },
      Some(s"""WITH ${Similarity.eSql},
              ${Similarity.lshBucketSql},
              ${Similarity.neardupSimsSql},
              p0 AS (SELECT id_a AS doc_a, id_b AS doc_b, sim AS cos_sim
                     FROM nsims WHERE sim > 0.2),
              ${gramOverlapSql("p0", 2)}
              SELECT p0.doc_a, p0.doc_b, cos_sim,
                ROUND(COALESCE(inter, 0) * 1.0 / (na.n + nb.n - COALESCE(inter, 0)), 6) AS lex_j,
                COALESCE(inter, 0) * 1.0 / (na.n + nb.n - COALESCE(inter, 0)) >= 0.3 AS lexical_dup
              FROM p0 LEFT JOIN i USING (doc_a, doc_b)
              JOIN n na ON na.doc_id = p0.doc_a
              JOIN n nb ON nb.doc_id = p0.doc_b
              ORDER BY doc_a, doc_b""")),

    // Character-level EDIT-DISTANCE verification of the LSH candidates —
    // the third verify flavor beside set-Jaccard (above) and embedding
    // cosine (q_sim_neardup): levenshtein catches small in-place edits
    // that token-set overlap scores identically. Pairs are O(LSH output)
    // and tiny relative to the corpus, so the planner broadcasts them
    // against the text relation and the O(len²) DP runs once per pair,
    // never per doc². Similarity = 1 − dist/max_len, kept at ≥ 0.5.
    Q("q_dedup_edit_verify",
      (s, d) => {
        val pairs = candidatePairs(s, d)
        val txt = docs(s, d).select(col("doc_id"), col("text"))
        val out = pairs
          .join(txt.as("ta"), col("doc_a") === col("ta.doc_id"))
          .join(txt.as("tb"), col("doc_b") === col("tb.doc_id"))
          .select(col("doc_a"), col("doc_b"),
            levenshtein(col("ta.text"), col("tb.text")).cast("long").as("edit_dist"),
            greatest(length(col("ta.text")), length(col("tb.text")))
              .cast("long").as("max_len"))
          .withColumn("sim", round(lit(1.0) - col("edit_dist") / col("max_len"), 6))
          .filter(col("sim") >= 0.5)
          .orderBy("doc_a", "doc_b")
          .localCheckpoint()
        graft.plans.Iterate.release(pairs)
        out
      },
      Some(s"""WITH $minhashSql, $bandsSql, $pairsSql,
              ev AS (SELECT doc_a, doc_b,
                CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
                CAST(GREATEST(length(a.text), length(b.text)) AS BIGINT) AS max_len
                FROM pairs
                JOIN documents a ON doc_a = a.doc_id
                JOIN documents b ON doc_b = b.doc_id)
              SELECT * FROM (
                SELECT doc_a, doc_b, edit_dist, max_len,
                  ROUND(1.0 - edit_dist / max_len, 6) AS sim FROM ev) t
              WHERE sim >= 0.5 ORDER BY doc_a, doc_b""")),

    // Benchmark DECONTAMINATION: flag training docs sharing long word
    // n-grams with an eval set — the standard pre-training hygiene scan.
    // Eval sets are tiny (thousands of items) against a 100 TB corpus, so
    // the eval gram set is BROADCAST and the corpus side is one scan →
    // native distinct-5-gram projection → broadcast-hash probe →
    // partial-combining count: no corpus shuffle at all until the O(hits)
    // aggregate. Production rules use 8-13-gram windows; this synthetic
    // corpus's docs only ever collide on shorter spans, so the declared
    // config is 3-grams / ≥2 shared — the gram width and threshold are the
    // two literals below, nothing else changes with them.
    Q("q_dedup_decontaminate",
      (s, d) => {
        val w = 3
        val g = docs(s, d).select(col("doc_id"),
          explode(TextHash.distinctNGrams(toks(col("text")), w)).as("gram"))
        val ev = g.filter(col("doc_id") < 5).withColumnRenamed("doc_id", "eval_id")
        g.join(broadcast(ev), "gram")
          .filter(col("doc_id") =!= col("eval_id"))
          .groupBy("doc_id", "eval_id")
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 2)
          .orderBy("doc_id", "eval_id")
      },
      Some(s"""WITH g AS (SELECT DISTINCT doc_id, array_to_string(tk[p:p + 2], ' ') AS gram FROM (
                SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS p
                FROM (SELECT doc_id, $toksSql AS tk FROM documents) t0) t1),
              ev AS (SELECT doc_id AS eval_id, gram FROM g WHERE doc_id < 5)
              SELECT g.doc_id, ev.eval_id, COUNT(*) AS n_shared
              FROM g JOIN ev USING (gram) WHERE g.doc_id <> ev.eval_id
              GROUP BY g.doc_id, ev.eval_id HAVING COUNT(*) >= 2
              ORDER BY doc_id, eval_id""")),

    // SEMANTIC decontamination: the embedding-space twin of the n-gram
    // scan above — flag training vectors whose cosine to ANY eval vector
    // crosses the contamination floor, catching the paraphrased leakage
    // lexical grams miss (the second hygiene pass modern pre-training
    // runs). Same scale shape as its sibling: the eval set (vec_id < 50,
    // the testdata's held-out convention) is tiny and BROADCAST; the
    // corpus side is ONE scan with a per-vector max_by argmax — exact by
    // construction, no recall knob, because a decontamination scan that
    // can miss is not hygiene. At 100 TB: still one pass, the eval side
    // stays the broadcast, and the argmax partial-combines map-side.
    Q("q_dedup_decontaminate_semantic",
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val ev = emb.filter(col("vec_id") < 50)
          .select(col("vec_id").as("eval_id"), col("embedding").as("eemb"))
        emb.filter(col("vec_id") >= 50)
          .crossJoin(broadcast(ev))
          .select(col("vec_id"), col("eval_id"),
            round(cosine(col("embedding"), col("eemb")), 6).as("sim"))
          .groupBy("vec_id")
          .agg(max(col("sim")).as("max_sim"),
            max_by(col("eval_id"), struct(col("sim"), -col("eval_id")))
              .as("nearest_eval"))
          .select(col("vec_id"), col("max_sim"), col("nearest_eval"),
            (col("max_sim") >= 0.30).as("contaminated"))
          .orderBy("vec_id")
      },
      Some(decontamSemSql)),

    // N-GRAM DECONTAMINATION — the classic eval-overlap hygiene scan
    // (GPT-3 appendix C's 13-gram collision test, here at the corpus's
    // 3-word shingles): every training doc reports how many of its
    // shingles collide with ANY shingle of the eval split, as a share —
    // the lexical complement of q_dedup_decontaminate_semantic's
    // embedding scan (a paraphrase evades n-grams, a verbatim quote
    // evades nothing). Eval split is scale-free (doc_id % 20). The eval
    // shingle set BROADCASTS (eval sets are small by construction), so
    // the corpus pays one scan + one hash join at any size; per-doc
    // aggregation is a partial-agg groupBy on the doc's own shingles.
    Q("q_dedup_decontaminate_ngram",
      (s, d) => {
        val sh = docs(s, d)
          .select(col("doc_id"), toks(col("text")).as("tk"))
          .select(col("doc_id"), explode(when(size(col("tk")) >= shingleWords,
            expr(s"transform(sequence(0, size(tk) - $shingleWords), " +
              s"i -> array_join(slice(tk, i + 1, $shingleWords), ' '))"))
            .otherwise(expr("CAST(array() AS ARRAY<STRING>)"))).as("sh"))
        val ev = sh.filter(col("doc_id") % 20 === 0)
          .select("sh").distinct().withColumn("hit", lit(1L))
        sh.filter(col("doc_id") % 20 =!= 0)
          .join(broadcast(ev), Seq("sh"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
          .select(col("doc_id"), col("n_shingles"), col("n_hits"),
            round(col("n_hits") * 1.0 / col("n_shingles"), 6).as("overlap"),
            (col("n_hits") * 2 >= col("n_shingles")).as("contaminated"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $shinglesSql,
              ev AS (SELECT DISTINCT sh AS esh FROM sh WHERE doc_id % 20 = 0),
              tr AS (SELECT doc_id, sh FROM sh WHERE doc_id % 20 <> 0)
              SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
                CAST(SUM(CASE WHEN ev.esh IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hits,
                ROUND(SUM(CASE WHEN ev.esh IS NOT NULL THEN 1 ELSE 0 END)
                  * 1.0 / COUNT(*), 6) AS overlap,
                SUM(CASE WHEN ev.esh IS NOT NULL THEN 1 ELSE 0 END) * 2
                  >= COUNT(*) AS contaminated
              FROM tr LEFT JOIN ev ON tr.sh = ev.esh
              GROUP BY doc_id ORDER BY doc_id""")),

    // SUBSTRING-level dedup — the "dedup repeated spans, not whole docs"
    // operator (suffix-array dedup in the single-node literature),
    // re-shaped for a shuffle engine: hash overlapping W-token windows at
    // stride S; a window whose hash occurs in ≥2 DISTINCT documents is a
    // duplicated span. Stride bounds the explode to ≤ tokens/S windows
    // per doc; the cross-corpus occurrence count is a per-hash groupBy
    // joined back to the windows — NOT a count window: a viral
    // boilerplate span (the very thing this operator hunts) would put
    // its whole O(corpus) group in ONE window task. The groupBy is
    // map-side-combined to one row per distinct span before the shuffle,
    // and the explode pipeline is checkpointed so it still runs ONCE.
    // Documents are never paired directly; no docs² term exists at any
    // stage. Per doc: window count, duplicated-window count, duplicated
    // fraction. (md5 is the portable-oracle hash; a production run
    // would swap in the cheaper native xxhash64 — one literal, nothing
    // else changes.)
    Q("q_dedup_span",
      (s, d) => {
        val W = 16; val S = 8
        val base = docs(s, d).select(col("doc_id"), toks(col("text")).as("tk"))
        val wins = base.select(col("doc_id"), explode(when(size(col("tk")) >= W,
            expr(s"transform(sequence(0, size(tk) - $W, $S), i -> md5(array_join(slice(tk, i + 1, $W), ' ')))"))
            .otherwise(expr("CAST(array() AS ARRAY<STRING>)"))).as("h"))
          .distinct() // count each span once per doc
          .localCheckpoint()
        val hc = wins.groupBy("h").agg(count(lit(1)).as("nd"))
        val per = wins.join(hc, Seq("h"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_windows"),
            sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_windows"))
        // left join back so short docs (< W tokens) report zero windows
        val out = base.select("doc_id").join(per, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_windows"), lit(0L)).as("n_windows"),
            coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
            round(coalesce(col("n_dup_windows") * 1.0 / col("n_windows"), lit(0.0)), 6).as("dup_frac"))
          .orderBy("doc_id").localCheckpoint()
        graft.plans.Iterate.release(wins)
        out
      },
      Some(s"""WITH base AS (SELECT doc_id, $toksSql AS tk FROM documents),
              wins AS (SELECT DISTINCT doc_id, md5(array_to_string(tk[p:p + 15], ' ')) AS h
                FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 15, 8)) AS p FROM base) t),
              hc AS (SELECT h, COUNT(*) AS nd FROM wins GROUP BY 1),
              per AS (SELECT doc_id, COUNT(*) AS n_windows,
                        SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS n_dup_windows
                      FROM wins JOIN hc USING (h) GROUP BY 1)
              SELECT d.doc_id,
                CAST(COALESCE(per.n_windows, 0) AS BIGINT) AS n_windows,
                CAST(COALESCE(per.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
                ROUND(COALESCE(per.n_dup_windows * 1.0 / per.n_windows, 0), 6) AS dup_frac
              FROM (SELECT doc_id FROM documents) d LEFT JOIN per USING (doc_id)
              ORDER BY doc_id""")),

    // MAXIMAL DUPLICATED SUBSTRING SPANS — the ExactSubstr dedup shape
    // ("Deduplicating Training Data Makes Language Models Better",
    // Lee et al. 2022): every STRIDE-1 W-token window whose hash occurs
    // >= 2 times corpus-wide marks its token range duplicated, and
    // overlapping/adjacent marked windows merge into maximal per-doc
    // intervals — exactly the spans an exact-substring cut would remove
    // (a duplicated substring of length >= W necessarily contains a
    // duplicated W-window, so coverage is complete at W granularity).
    // Scale shape, vs the paper's suffix array: token-LINEAR — the
    // stride-1 explode is O(corpus tokens) rows (checkpointed, runs
    // once), the dup set is one map-side-combined groupBy on window
    // hash, marking is a semi-join (no counts carried, no docs² term),
    // and the interval merge is a per-doc window whose group is bounded
    // by DOCUMENT LENGTH, never by corpus-wide hash frequency — a viral
    // span inflates the dup set's build side, not any single task.
    Q("q_dedup_substring",
      (s, d) => maximalDupSpans(docs(s, d), W = 16),
      Some(s"""WITH base AS (SELECT doc_id, $toksSql AS tk FROM documents),
              wins AS (SELECT doc_id, p, md5(array_to_string(tk[p:p + 15], ' ')) AS h
                       FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 15, 1)) AS p
                             FROM base WHERE len(tk) >= 16) t),
              dup AS (SELECT h FROM wins GROUP BY h HAVING COUNT(*) >= 2),
              pos AS (SELECT doc_id, p FROM wins JOIN dup USING (h)),
              isl AS (SELECT doc_id, p,
                        SUM(CASE WHEN prev IS NULL OR p > prev + 16 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY doc_id ORDER BY p) AS grp
                      FROM (SELECT doc_id, p,
                              LAG(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
                            FROM pos) t)
              SELECT doc_id, CAST(MIN(p) AS BIGINT) AS start_tok,
                     CAST(MAX(p) + 15 AS BIGINT) AS end_tok,
                     CAST(MAX(p) + 16 - MIN(p) AS BIGINT) AS span_toks
              FROM isl GROUP BY doc_id, grp ORDER BY doc_id, start_tok""")),

    // EXACT-SUBSTRING CUT — the REWRITE half of q_dedup_substring (the
    // detect→rewrite pair the span/boilerplate rows already form): drop
    // every token covered by a maximal duplicated span and emit the
    // cleaned corpus. Maximal spans are disjoint by construction (merged
    // intervals), so the token↔span range join has multiplicity <= 1 and
    // the per-doc regroup is bounded by document length; spans per doc
    // are <= len/W, so the join's build side tracks dup volume.
    Q("q_dedup_substring_cut",
      (s, d) => {
        val W = 16
        val spans = maximalDupSpans(docs(s, d), W)
          .select(col("doc_id").as("sdoc"), col("start_tok").as("slo"),
            col("end_tok").as("shi"))
        val base = docs(s, d).select(col("doc_id"), toks(col("text")).as("tk"))
        val tp = base.select(col("doc_id"), posexplode(col("tk")))
          .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("tok"))
        val per = tp.join(spans, col("doc_id") === col("sdoc") &&
            col("p").between(col("slo"), col("shi")), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("slo").isNotNull, 1L).otherwise(0L)).as("n_cut"),
            array_join(expr(
              "transform(array_sort(collect_list(CASE WHEN slo IS NULL THEN struct(p, tok) END)), x -> x.tok)"),
              " ").as("cleaned"))
        docs(s, d).select("doc_id").join(per, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
            coalesce(col("n_cut"), lit(0L)).as("n_cut"),
            coalesce(col("cleaned"), lit("")).as("cleaned"))
          .orderBy("doc_id")
      },
      Some(s"""WITH base AS (SELECT doc_id, $toksSql AS tk FROM documents),
              wins AS (SELECT doc_id, p, md5(array_to_string(tk[p:p + 15], ' ')) AS h
                       FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 15, 1)) AS p
                             FROM base WHERE len(tk) >= 16) t),
              dup AS (SELECT h FROM wins GROUP BY h HAVING COUNT(*) >= 2),
              pos AS (SELECT doc_id, p FROM wins JOIN dup USING (h)),
              isl AS (SELECT doc_id, p,
                        SUM(CASE WHEN prev IS NULL OR p > prev + 16 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY doc_id ORDER BY p) AS grp
                      FROM (SELECT doc_id, p,
                              LAG(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
                            FROM pos) t),
              spans AS (SELECT doc_id, MIN(p) AS lo, MAX(p) + 15 AS hi
                        FROM isl GROUP BY doc_id, grp),
              tp AS (SELECT doc_id, p, tk[p] AS tok
                     FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS p
                           FROM base) t),
              per AS (SELECT tp.doc_id, COUNT(*) AS n_tokens,
                        SUM(CASE WHEN s.lo IS NOT NULL THEN 1 ELSE 0 END) AS n_cut,
                        COALESCE(string_agg(CASE WHEN s.lo IS NULL THEN tp.tok END,
                          ' ' ORDER BY tp.p), '') AS cleaned
                      FROM tp LEFT JOIN spans s
                        ON s.doc_id = tp.doc_id AND tp.p BETWEEN s.lo AND s.hi
                      GROUP BY tp.doc_id)
              SELECT d.doc_id,
                CAST(COALESCE(per.n_tokens, 0) AS BIGINT) AS n_tokens,
                CAST(COALESCE(per.n_cut, 0) AS BIGINT) AS n_cut,
                COALESCE(per.cleaned, '') AS cleaned
              FROM (SELECT doc_id FROM documents) d LEFT JOIN per USING (doc_id)
              ORDER BY doc_id""")),

    // Boilerplate block REMOVAL (the CCNet/RefinedWeb paragraph-dedup
    // move): chunk each doc into non-overlapping 8-token blocks, count
    // distinct docs per block across the corpus, and REWRITE each doc
    // keeping only blocks seen in exactly one document. Unlike
    // q_dedup_span (which only scores duplication) this emits the cleaned
    // corpus. Scale shape: one block-level count-distinct (two-level hash
    // agg), one equi-join of blocks to their corpus counts, one per-doc
    // regroup whose state is bounded by document length — documents are
    // never paired with each other.
    Q("q_dedup_boilerplate",
      (s, d) => {
        val B = 8
        val blk = docs(s, d)
          .select(col("doc_id"), toks(col("text")).as("tk"))
          .select(col("doc_id"), posexplode(when(size(col("tk")) > 0,
            expr(s"transform(sequence(0, size(tk) - 1, $B), i -> array_join(slice(tk, i + 1, $B), ' '))"))
            .otherwise(expr("CAST(array() AS ARRAY<STRING>)"))))
          .select(col("doc_id"), col("pos"), col("col").as("block"))
        val hc = blk.groupBy("block")
          .agg(countDistinct(col("doc_id")).as("nd"))
        val per = blk.join(hc, Seq("block"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_blocks"),
            sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_removed"),
            array_join(expr(
              "transform(array_sort(collect_list(CASE WHEN nd < 2 THEN struct(pos, block) END)), x -> x.block)"),
              " ").as("cleaned"))
        docs(s, d).select("doc_id").join(per, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
            coalesce(col("n_removed"), lit(0L)).as("n_removed"),
            coalesce(col("cleaned"), lit("")).as("cleaned"))
          .orderBy("doc_id")
      },
      Some(s"""WITH base AS (SELECT doc_id, $toksSql AS tk FROM documents),
              blk AS (SELECT doc_id, p, array_to_string(tk[p:p + 7], ' ') AS block
                      FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk), 8)) AS p
                            FROM base) t),
              hc AS (SELECT block, COUNT(DISTINCT doc_id) AS nd FROM blk GROUP BY block),
              per AS (SELECT doc_id, COUNT(*) AS n_blocks,
                        SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS n_removed,
                        COALESCE(string_agg(CASE WHEN nd < 2 THEN blk.block END, ' '
                                            ORDER BY p), '') AS cleaned
                      FROM blk JOIN hc USING (block) GROUP BY doc_id)
              SELECT d.doc_id,
                CAST(COALESCE(per.n_blocks, 0) AS BIGINT) AS n_blocks,
                CAST(COALESCE(per.n_removed, 0) AS BIGINT) AS n_removed,
                COALESCE(per.cleaned, '') AS cleaned
              FROM (SELECT doc_id FROM documents) d LEFT JOIN per USING (doc_id)
              ORDER BY doc_id""")),

    // EXACT similarity join via prefix filtering (PPJoin family): every
    // pair with 3-gram Jaccard >= 0.6, NO false negatives — the exact
    // counterpart of the probabilistic MinHash/LSH path. Each document's
    // gram set is ordered by ONE global total order (ascending document
    // frequency, gram as tie-break — rarest first); if Jaccard(A,B) >= t
    // the first |A| - ceil(t|A|) + 1 grams of A must intersect B's prefix,
    // so candidates come only from shared PREFIX grams — by construction
    // the rarest grams in the corpus, so bucket fan-out is minimal and no
    // all-pairs product ever forms. A size filter (5*min >= 3*max, the
    // integer form of min >= t*max) prunes before verification; the final
    // threshold test is pure integer arithmetic (5*inter >= 3*union) — no
    // float boundary. The oracle is the BRUTE-FORCE join, so a hash match
    // proves prefix filtering lost nothing. Completeness needs no global
    // rank table: the (df, gram) sort key IS the order, computed per doc.
    Q("q_dedup_ppjoin",
      (s, d) => ppjoinResult(s, d),
      Some(ppjoinOracleSql)),

    // RECALL/PRECISION of the probabilistic LSH blocking against EXACT
    // ground truth: the PPJoin row (above) yields every true Jaccard ≥ 0.6
    // pair with no false negatives, so the LSH candidate set can be
    // SCORED, not just eyeballed — the go/no-go number for the
    // hashes/bands knobs before a 100 TB run (the blocking analogue of
    // the ANN recall rows; truth there is brute-force cosine, truth here
    // is the prefix-filtered exact join). One row: set sizes, hits,
    // recall, precision. Ratio denominators are guarded identically on
    // both sides (candidate mining may legitimately find nothing at tiny
    // scale).
    Q("q_dedup_lsh_recall",
      (s, d) => {
        val truth = graft.SparkEntry.queries("q_dedup_ppjoin")(s, d)
          .select("doc_a", "doc_b")
        val cands = candidatePairs(s, d)
        val hits = truth.join(cands, Seq("doc_a", "doc_b"))
        val n = truth.count(); val c = cands.count(); val h = hits.count()
        import s.implicits._
        Seq((n, c, h)).toDF("n_truth", "n_cand", "n_hit")
          .select(col("n_truth"), col("n_cand"), col("n_hit"),
            when(col("n_truth") > 0,
              round(col("n_hit") * 1.0 / col("n_truth"), 6)).as("recall"),
            when(col("n_cand") > 0,
              round(col("n_hit") * 1.0 / col("n_cand"), 6)).as("precision"))
      },
      Some(s"""WITH $minhashSql, $bandsSql, $pairsSql,
              base AS (SELECT doc_id, $toksSql AS tk FROM documents),
              g AS (SELECT DISTINCT doc_id, array_to_string(tk[p:p + 2], ' ') AS gram
                    FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS p
                          FROM base) t),
              n AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
              i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
                    FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
                    GROUP BY 1, 2),
              truth AS (SELECT i.doc_a, i.doc_b FROM i
                    JOIN n na ON i.doc_a = na.doc_id JOIN n nb ON i.doc_b = nb.doc_id
                    WHERE 5 * inter >= 3 * (na.n + nb.n - inter)),
              hits AS (SELECT t.doc_a FROM truth t
                    JOIN pairs p ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b),
              cts AS (SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
                      (SELECT COUNT(*) FROM pairs) AS n_cand,
                      (SELECT COUNT(*) FROM hits) AS n_hit)
              SELECT n_truth, n_cand, n_hit,
                CASE WHEN n_truth > 0
                  THEN ROUND(n_hit * 1.0 / n_truth, 6) END AS recall,
                CASE WHEN n_cand > 0
                  THEN ROUND(n_hit * 1.0 / n_cand, 6) END AS precision
              FROM cts""")),

    // EXACT near-dup CLUSTERS: connected components over the PPJoin
    // exact-pair graph, run to TRUE fixpoint (rounds discovered, not
    // declared — unlike the LSH clusters row's fixed 3 rounds, which is
    // honest for candidate graphs but not for exact ones). Composition
    // of two proven operators: the memoized exact similarity join feeds
    // a min-label propagation whose state is O(docs); the oracle is the
    // recursive closure over the brute-force pair truth, so both the
    // pairs AND the transitive grouping are verified end-to-end.
    Q("q_dedup_exact_clusters",
      (s, d) => {
        val pairs = ppjoinResult(s, d).select("doc_a", "doc_b")
        val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
          .localCheckpoint()
        val vs = Tables(s, d, "documents").select(col("doc_id").as("v"))
        val ePlus = edges
          .unionAll(vs.select(col("v").as("src"), col("v").as("dst")))
          .localCheckpoint()
        val init = vs.select(col("v"), col("v").as("lbl"))
        val fp = graft.plans.Iterate.untilFixpointChecked(init,
            maxIter = 1000, checkpointEvery = 0) { (c, _) =>
          // changed-count observed during the checkpoint job (r15):
          // ePlus includes every vertex's self-loop, so next.lbl =
          // min(old.lbl, best neighbour) ≤ old.lbl and "changed" ⟺
          // next.lbl < old.lbl — the old next-vs-previous diff join
          // folds INTO the round's plan (one join against the carried
          // state) and the count rides the checkpoint: one job per
          // round instead of two.
          graft.plans.Iterate.advance(c,
            c.as("cc").join(ePlus.as("ee"), col("cc.v") === col("ee.src"))
              .groupBy(col("ee.dst").as("v")).agg(min(col("cc.lbl")).as("nl"))
              .join(c.select(col("v"), col("lbl").as("ol")), Seq("v"))
              .select(col("v"), col("nl").as("lbl"), (col("nl") < col("ol")).as("chg")),
            col("chg"))
        }.requireConverged("q_dedup_exact_clusters")
        val res = fp.out.select(col("v").as("doc_id"), col("lbl").as("cluster"))
          .orderBy("doc_id").localCheckpoint()
        graft.plans.Iterate.release(ePlus)
        graft.plans.Iterate.release(edges)
        res
      },
      Some(s"""WITH RECURSIVE $ppjoinTruthCtes,
              ed AS (SELECT doc_a AS src, doc_b AS dst FROM tpairs
                     UNION ALL SELECT doc_b, doc_a FROM tpairs),
              reach(v, lbl) AS (
                SELECT doc_id AS v, doc_id AS lbl FROM documents
                UNION
                SELECT ed.dst, reach.lbl FROM reach JOIN ed ON ed.src = reach.v
              )
              SELECT v AS doc_id, MIN(lbl) AS cluster FROM reach
              GROUP BY v ORDER BY doc_id""")),

    // Sorted-neighborhood dedup (SNM): sort the corpus by a normalized
    // blocking key (24-char canonical-text prefix), slide a fixed window,
    // and verify only window-adjacent pairs (offsets 1..3) by exact 3-gram
    // Jaccard >= 0.5 — the classic record-linkage alternative to hash
    // blocking, catching near-dups whose edits fall OUTSIDE the key
    // prefix. The sort is partitioned by a coarse 2-char block (window
    // pairs stay within a block; production SNM runs multiple passes with
    // different keys to cover block boundaries), so no global
    // single-partition window exists at any scale; candidates are
    // O(corpus * window), never quadratic. Threshold test in exact
    // integer form (2*inter >= union).
    Q("q_dedup_snm",
      (s, d) => {
        val winAhead = 3
        val base = docs(s, d)
          .select(col("doc_id"), normCanon.as("nrm"),
            TextHash.distinctNGrams(toks(col("text")), 3).as("tk"))
          .filter(size(col("tk")) > 0)
          .localCheckpoint() // shared by both passes
        // one pass per blocking key — multi-pass is the production SNM
        // shape. Pass 1 sorts on the canonical-text PREFIX (catches
        // tail edits); pass 2 sorts on each doc's globally RAREST gram
        // (position-independent: a near-dup pair shares its rare
        // content grams regardless of where the edits sit — the
        // DedupScale probe's pad-wrapped copies, invisible to any
        // affix key, sort adjacent here because the pads are
        // corpus-common while the shared body grams have df = 2).
        def pass(keyed: DataFrame): DataFrame = {
          val blocked = keyed.withColumn("blk", substring(col("k"), 1, 2))
          // per-block row_number, SKEW-ADAPTIVE: block COUNT is bounded
          // (~10³) but block SIZE is data-skewed — a corpus where most
          // normalized docs share a 2-char prefix (or most rarest-grams
          // start alike) puts O(corpus) rows in one window sort task.
          // One cheap count decides the plan: if no block can exceed the
          // per-task bound, the plain window is safe AND ~1.5 s cheaper
          // per pass at sf0.1 (RangedRank's range shuffle + checkpoint
          // are its fixed cost); past the bound, RangedRank range-shards
          // the (blk, k) sort so no task ever holds a whole block
          // (HotKeyProbe measures both shapes; DedupScale's 1M-doc
          // corpus — every normalized doc shares the boilerplate's 2-char
          // prefix — takes the sharded path). Same guard-then-choose
          // pattern as RangedRank's own offsets-broadcast bound.
          val maxBlock = blocked.groupBy("blk").count()
            .agg(max("count")).head.getLong(0)
          val rn = (if (maxBlock <= 65536)
            blocked.withColumn("rn", row_number().over(
              org.apache.spark.sql.expressions.Window
                .partitionBy("blk").orderBy(col("k"), col("doc_id"))).cast("long"))
          else
            RangedRank.withRank(blocked, Seq("blk"), Seq("k", "doc_id"), "rn"))
            .localCheckpoint()
          val probes = rn.select(col("blk"), col("doc_id"), col("tk"),
            explode(expr(s"sequence(rn + 1, rn + $winAhead)")).as("rnb"))
          val out = probes.join(
              rn.select(col("blk"), col("rn").as("rnb"),
                col("doc_id").as("doc_id_b"), col("tk").as("tb")),
              Seq("blk", "rnb"))
            .select(least(col("doc_id"), col("doc_id_b")).as("doc_a"),
              greatest(col("doc_id"), col("doc_id_b")).as("doc_b"),
              size(array_intersect(col("tk"), col("tb"))).as("i"),
              size(col("tk")).as("na"), size(col("tb")).as("nb"))
            .filter(col("i") * 2 >= col("na") + col("nb") - col("i"))
            .select(col("doc_a"), col("doc_b"),
              round(col("i") * 1.0 / (col("na") + col("nb") - col("i")), 6).as("jac"))
            .localCheckpoint()
          graft.plans.Iterate.release(rn)
          out
        }
        val p1 = pass(base.select(col("doc_id"),
          substring(col("nrm"), 1, 24).as("k"), col("tk")))
        val gr = base.select(col("doc_id"), explode(col("tk")).as("gram"))
        // a blocking key is useless unless SHARED: df-1 grams can never
        // link two docs, and a near-dup's unique boundary grams would
        // otherwise hijack its "rarest" key away from its partner's
        val dfq = gr.groupBy("gram").agg(count(lit(1)).as("df"))
          .filter(col("df") >= 2)
        val rkey = gr.join(dfq, Seq("gram")).groupBy("doc_id")
          .agg(min(struct(col("df"), col("gram"))).as("m"))
          .select(col("doc_id"), col("m.gram").as("k"))
        val p2 = pass(base.join(rkey, Seq("doc_id"))
          .select(col("doc_id"), col("k"), col("tk")))
        val out = p1.unionAll(p2).distinct()
          .orderBy("doc_a", "doc_b").localCheckpoint()
        graft.plans.Iterate.release(p1)
        graft.plans.Iterate.release(p2)
        graft.plans.Iterate.release(base)
        out
      },
      Some {
        def passSql(tag: String, keyedCte: String) =
          s"""rn$tag AS (SELECT doc_id, k, g, substring(k, 1, 2) AS blk,
                 ROW_NUMBER() OVER (PARTITION BY substring(k, 1, 2)
                   ORDER BY k, doc_id) AS rn
               FROM $keyedCte),
             cand$tag AS (SELECT a.doc_id AS da, b.doc_id AS db, a.g AS ta, b.g AS tb
               FROM rn$tag a JOIN rn$tag b ON a.blk = b.blk
                 AND b.rn BETWEEN a.rn + 1 AND a.rn + 3),
             sc$tag AS (SELECT LEAST(da, db) AS doc_a, GREATEST(da, db) AS doc_b,
                 len(list_intersect(ta, tb)) AS i,
                 len(ta) AS na, len(tb) AS nb FROM cand$tag),
             p$tag AS (SELECT doc_a, doc_b, ROUND(i * 1.0 / (na + nb - i), 6) AS jac
               FROM sc$tag WHERE 2 * i >= (na + nb - i))"""
        s"""WITH base0 AS (SELECT doc_id, $normCanonSql AS nrm, $toksSql AS tk
                  FROM documents),
            gs AS (SELECT doc_id, nrm,
                     list_distinct(list_transform(generate_series(1, len(tk) - 2),
                       p -> array_to_string(tk[p:p + 2], ' '))) AS g
                   FROM base0),
            gg AS (SELECT doc_id, nrm, g FROM gs WHERE len(g) > 0),
            keyed1 AS (SELECT doc_id, substring(nrm, 1, 24) AS k, g FROM gg),
            gre AS (SELECT doc_id, unnest(g) AS gram FROM gg),
            dfq AS (SELECT gram, COUNT(*) AS df FROM gre
                    GROUP BY gram HAVING COUNT(*) >= 2),
            rk AS (SELECT doc_id, gram AS k FROM (
                SELECT g1.doc_id, g1.gram,
                  ROW_NUMBER() OVER (PARTITION BY g1.doc_id
                    ORDER BY d.df, g1.gram) AS rn
                FROM gre g1 JOIN dfq d USING (gram)) t WHERE rn = 1),
            keyed2 AS (SELECT gg.doc_id, rk.k, gg.g
                       FROM gg JOIN rk ON rk.doc_id = gg.doc_id),
            ${passSql("1", "keyed1")},
            ${passSql("2", "keyed2")}
            SELECT DISTINCT doc_a, doc_b, jac
            FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2) u
            ORDER BY 1, 2"""
      })
  )

  /** The exact PPJoin pipeline (candidates by prefix + positional filter,
    * thin-row gram verify). Extracted so the declared row and its two
    * consumers (q_dedup_lsh_recall, q_dedup_cross_source) share one
    * execution via [[ppjoinResult]]. */
  private def computePpjoin(s: SparkSession, d: String): DataFrame = {
    // grams enter as 128-bit byte-level hashes (optimization r15 — the
    // containment row's kernel extended to its Jaccard sibling): PPJoin
    // needs only gram EQUALITY and ONE consistent total order, both
    // preserved by the (h1, h2) pair (NGramHashSpec pins the kernel;
    // collisions < 1e-14 at 10^12 distinct grams). The global order
    // becomes (df, h1, h2) instead of (df, gram-lexicographic) — the
    // prefix filter is complete under ANY total order (hot grams still
    // sort last, which is the whole df-bound), so the candidate set
    // stays a superset of every true pair and the exact verify makes
    // the declared output identical (DedupBlockingSpec re-proves it
    // against the brute-force join).
    val g = docs(s, d).select(col("doc_id"),
        explode(TextHash.ngramHashes(toks(col("text")), 3)).as("gram"))
      .localCheckpoint()
    val docGrams = ppjoinDocGrams(g)
    graft.plans.Iterate.release(g) // fully consumed by the docGrams pin
    val cand = ppjoinCandidatesFromDocs(docGrams)
      .localCheckpoint() // consumed by both verify sides
    val out = ppjoinVerifyFromDocs(docGrams, cand)
      .localCheckpoint()
    graft.plans.Iterate.release(docGrams)
    graft.plans.Iterate.release(cand)
    out
  }

  /** Per-doc gram-array relation (doc_id, gs, n, plen), PINNED — gs is
    * the doc's hashed grams in ONE global (df, h1, h2) order (the prefix
    * filter's order), n its distinct-gram count, plen the Jaccard prefix
    * length. Shared by candidate generation AND the array-intersect
    * verify (the containmentDocGrams shape, optimization r15): with
    * 16-byte hashed grams a doc's whole array costs what ~3 of the old
    * exploded (pair, gram) verify rows did. */
  private[graft] def ppjoinDocGrams(g: DataFrame): DataFrame = {
    val dfreq = g.groupBy("gram").agg(count(lit(1)).as("df"))
    g.join(dfreq, Seq("gram"))
      .groupBy("doc_id")
      .agg(expr("transform(array_sort(collect_list(struct(df, gram))), x -> x.gram)").as("gs"))
      .select(col("doc_id"), col("gs"), size(col("gs")).as("n"))
      // prefix length |T| - ceil(0.6|T|) + 1; ceil(3n/5) = (3n+4) DIV 5
      // in exact integer arithmetic (FP ceil(0.6*5) would round to 4)
      .withColumn("plen", expr("n - (3*n + 4) DIV 5 + 1"))
      .localCheckpoint()
  }

  /** Prefix ⋈ prefix candidate pairs over a prepared [[ppjoinDocGrams]]
    * relation — LAZY (the caller pins): a narrow re-explode of the
    * pinned arrays serves both join sides, not a recompute. */
  private[graft] def ppjoinCandidatesFromDocs(docGrams: DataFrame): DataFrame = {
    val prefix = docGrams.select(col("doc_id"), col("n"),
        posexplode(expr("slice(gs, 1, plen)")))
      .select(col("doc_id"), col("n"), (col("pos") + 1).as("pos"), col("col").as("pg"))
    // PPJoin's POSITIONAL filter on top of the size filter: a match at
    // 1-based prefix positions (pa, pb) bounds the overlap by
    // 1 + min(na-pa, nb-pb), which must reach ceil(t/(1+t)·(na+nb)) =
    // (3u+7) DIV 8 for t = 0.6 — prunes 193k → 69k candidates at
    // sf0.1 before the expensive verify, losing nothing (the brute
    // -force oracle re-proves completeness every round)
    prefix.as("a").join(prefix.as("b"),
        col("a.pg") === col("b.pg") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.n"), col("b.n")) * 5 >= greatest(col("a.n"), col("b.n")) * 3 &&
          lit(1) + least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos")) >=
            expr("(3 * (a.n + b.n) + 7) DIV 8")) // integer ceil(3u/8), not double /
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Candidate pairs joined with BOTH sides' pinned gram arrays plus the
    * exact kernel overlap: (doc_a, doc_b, i, na, nb) — the one
    * definition of the verify join shared by the Jaccard (PPJoin) and
    * containment verifies. Both sides stay semi-restricted to candidate
    * docs — O(dup volume), not corpus scale (the 1M-doc DedupScale
    * discipline: hash-building a corpus-scale relation is an OOM, a
    * candidate-bounded one shrinks with the dup volume). LAZY. */
  private def candPairOverlap(docGrams: DataFrame, cand: DataFrame): DataFrame = {
    def side(idCol: String, pre: String) = docGrams
      .join(cand.select(col(idCol).as("doc_id")).distinct(), Seq("doc_id"))
      .select(col("doc_id").as(idCol), col("gs").as(s"${pre}gs"),
        col("n").as(s"${pre}n"))
    cand
      .join(side("doc_a", "a").hint("shuffle_hash"), Seq("doc_a"))
      .join(side("doc_b", "b").hint("shuffle_hash"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        TextHash.hashPairIntersectSize(col("ags"), col("bgs")).as("i"),
        col("an").as("na"), col("bn").as("nb"))
  }

  private[graft] def ppjoinVerifyFromDocs(docGrams: DataFrame,
      cand: DataFrame): DataFrame = {
    candPairOverlap(docGrams, cand)
      .filter(col("i") * 5 >= (col("na") + col("nb") - col("i")) * 3)
      .select(col("doc_a"), col("doc_b"),
        round(col("i") * 1.0 / (col("na") + col("nb") - col("i")), 6).as("jac"))
      .orderBy("doc_a", "doc_b")
  }

  /** Containment-join candidate pairs over a (doc_id, gram) relation via
    * the asymmetric prefix filter (threshold `t` on |A∩B|/min(|A|,|B|)).
    * Emits (doc_a, doc_b) with doc_a < doc_b, a SUPERSET of every true
    * containment-≥-t pair (ContainmentPrefixSpec). Shape: per-gram df →
    * per-doc (df, gram)-sorted gram list → prefix of the rarest
    * n - ceil(t·n) + 2 grams (one slack gram absorbs the round(·,6)
    * boundary on the verify side, so candidate generation can never be
    * stricter than the filter it feeds) → prefix ⋈ full-list on gram,
    * restricted to (smaller, larger) by (n, doc_id) so each unordered
    * pair is probed exactly once, from its smaller side. Candidate count
    * per gram is prefix-occurrences × df, not df²: hot grams sort LAST
    * in the global order and fall out of prefixes, which is the whole
    * df-bound. */
  /** The containment row's gram kernel — ONE definition shared by the
    * declared query and the plan-dump/probe tools: distinct 3-gram
    * 128-bit byte-level hashes ([[graft.functions.TextHashUtil
    * .distinctNGramHashes]]), never gram strings. */
  private[graft] def containmentGramCol(text: Column): Column =
    TextHash.ngramHashes(TextExprs.toks(text), 3)

  /** exact rational num/den with num/den <= t + 1e-9: thresholds that
    * are exact in 3 decimals round-trip; anything finer FLOORS so the
    * rational can only be LOOSER than t — a looser prefix/positional
    * filter admits extra candidates (cost) but can never lose a true
    * pair (the superset guarantee the exact verify depends on). */
  private def contNumDen(t: Double): (Int, Int) = {
    val den = 1000
    val r = math.round(t * den).toInt
    (if (math.abs(r.toDouble / den - t) <= 1e-9) r
     else math.floor(t * den).toInt, den)
  }

  /** Per-doc gram-array relation (doc_id, gs, n, plen), PINNED — gs is
    * the doc's grams in ONE global (df, gram) order (the prefix filter's
    * order), n its distinct-gram count, plen the containment prefix
    * length. Shared by candidate generation (positioned explode) AND the
    * array-intersect verify (optimization r15: the verify previously
    * exploded every candidate pair into (pair × doc_a grams) rows and
    * re-aggregated; with 16-byte hashed grams a doc's whole array is
    * smaller than three exploded rows were, so the pair join carries the
    * arrays and the intersection is a per-row projection — same shuffled
    * bytes, ~an-order-of-magnitude fewer join/agg rows, and the
    * sizes-aggregate + two size joins disappear into the carried `n`). */
  private[graft] def containmentDocGrams(g: DataFrame, t: Double): DataFrame = {
    val (num, den) = contNumDen(t)
    val dfreq = g.groupBy("gram").agg(count(lit(1)).as("df"))
    g.join(dfreq, Seq("gram"))
      .groupBy("doc_id")
      .agg(expr("transform(array_sort(collect_list(struct(df, gram))), x -> x.gram)").as("gs"))
      .select(col("doc_id"), col("gs"), size(col("gs")).as("n"))
      // ceil(t·n) in exact integer arithmetic: (num·n + den - 1) DIV den
      .withColumn("plen", expr(s"n - ($num*n + ${den - 1}) DIV $den + 2"))
      .localCheckpoint()
  }

  private[graft] def containmentCandidates(g: DataFrame, t: Double): DataFrame = {
    val docGrams = containmentDocGrams(g, t)
    val out = containmentCandidatesFromDocs(docGrams, t)
    graft.plans.Iterate.release(docGrams)
    out
  }

  /** [[containmentCandidates]] over a prepared [[containmentDocGrams]]
    * relation (so the pair pipeline builds the doc-gram arrays ONCE for
    * candidates and verify). */
  private[graft] def containmentCandidatesFromDocs(docGrams: DataFrame,
      t: Double): DataFrame = {
    val (num, den) = contNumDen(t)
    // one positioned explosion serves both join sides: positions in the
    // SAME global (df, gram) order power the positional filter below —
    // a narrow re-explode of the pinned arrays, not a recompute
    val pos = docGrams
      .select(col("doc_id"), col("n"), col("plen"), posexplode(col("gs")))
      .select(col("doc_id"), col("n"), col("plen"),
        (col("pos") + 1).as("p"), col("col").as("gram"))
    val prefix = pos.filter(col("p") <= col("plen"))
    // positional filter, containment-adapted: for the FIRST shared gram
    // in the global order, every earlier gram of BOTH docs is non-shared
    // (a shared gram earlier in either list would be globally smaller),
    // so overlap <= 1 + min(na - pa, nb - pb); the verify admits
    // i >= ceil(t·na) - 1 (the round(·,6) slack), so candidates where
    // the bound cannot reach that are safely pruned — the pair survives
    // through its first shared gram if it survives at all (measured at
    // sf0.1, r15: 180k gram-match pairs → 171k candidates — the corpus'
    // dup structure leaves most pairs plausible, so the VERIFY stage is
    // sized for candidate counts of this order); hot grams sit at the
    // END of every doc's order, so they fail the bound instantly.
    val out = prefix.as("a").join(pos.as("b"),
        col("a.gram") === col("b.gram") &&
          (col("a.n") < col("b.n") ||
            (col("a.n") === col("b.n") && col("a.doc_id") < col("b.doc_id"))) &&
          lit(1) + least(col("a.n") - col("a.p"), col("b.n") - col("b.p")) >=
            expr(s"($num * a.n + ${den - 1}) DIV $den - 1"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
      .localCheckpoint()
    out
  }

  /** Full containment pipeline over a materialized (doc_id, gram)
    * relation: prefix-filtered candidates ([[containmentCandidates]]),
    * ARRAY-INTERSECT verify (optimization r15 — see
    * [[containmentDocGrams]]: the candidate pair joins against the
    * per-doc 16-byte-hash gram arrays and |A∩B| is a per-row
    * `size(array_intersect)` projection; the old shape exploded every
    * pair into (pair × doc_a grams) rows, hash-probed a (doc, gram)
    * build side, re-aggregated per pair, and joined a separate sizes
    * relation twice), exact containment score, contained/container
    * orientation by (size, id). The build sides stay semi-restricted to
    * candidate docs — O(dup volume), not corpus scale (the 1M-doc
    * DedupScale discipline: hash-building a corpus-scale relation is an
    * OOM, a candidate-bounded one shrinks with the dup volume). */
  private[graft] def containmentPairs(g: DataFrame, t: Double): DataFrame = {
    val docGrams = containmentDocGrams(g, t)
    val cand = containmentCandidatesFromDocs(docGrams, t) // materialized
    val out = candPairOverlap(docGrams, cand)
      .withColumn("cont", round(col("i") * 1.0 / least(col("na"), col("nb")), 6))
      .filter(col("cont") >= t)
      .select(
        when(col("na") < col("nb"), col("doc_a"))
          .when(col("nb") < col("na"), col("doc_b"))
          .otherwise(least(col("doc_a"), col("doc_b"))).as("contained"),
        when(col("na") < col("nb"), col("doc_b"))
          .when(col("nb") < col("na"), col("doc_a"))
          .otherwise(greatest(col("doc_a"), col("doc_b"))).as("container"),
        col("i"), col("cont"))
      .orderBy("contained", "container")
    // docGrams stays pinned: `out` is LAZY (the caller checkpoints it) and
    // its verify joins read the pinned arrays — releasing here would drop
    // the blocks under an unmaterialized plan. Callers release `g`/the
    // result; the pin follows the cand-checkpoint lifecycle as before.
    out
  }

  /** Maximal duplicated token spans over a (doc_id, text) relation — the
    * q_dedup_substring body (see that row's doc comment for the scale
    * argument). Emits (doc_id, start_tok, end_tok, span_toks), token
    * positions 1-based, one row per maximal interval of positions whose
    * stride-1 W-token window hash occurs >= 2 times corpus-wide
    * (within-doc repeats count — a doc that plagiarizes itself is
    * flagged like one that plagiarizes a neighbor). */
  def maximalDupSpans(docsDf: DataFrame, W: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docsDf.select(col("doc_id"), toks(col("text")).as("tk"))
    val wins = base.filter(size(col("tk")) >= W)
      .select(col("doc_id"), posexplode(
        expr(s"transform(sequence(0, size(tk) - $W, 1), i -> md5(array_join(slice(tk, i + 1, $W), ' ')))")))
      .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("h"))
      .localCheckpoint()
    val dup = wins.groupBy("h").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select("h")
    val pos = wins.join(dup, Seq("h"), "left_semi")
    val w = Window.partitionBy("doc_id").orderBy("p")
    val isl = pos
      .withColumn("prev", lag("p", 1).over(w))
      .withColumn("grp", sum(when(col("prev").isNull ||
        col("p") > col("prev") + W, 1).otherwise(0)).over(w))
    val out = isl.groupBy("doc_id", "grp")
      .agg(min("p").as("lo"), max("p").as("hi"))
      .select(col("doc_id"), col("lo").cast("long").as("start_tok"),
        (col("hi") + W - 1).cast("long").as("end_tok"),
        (col("hi") + W - col("lo")).cast("long").as("span_toks"))
      .orderBy("doc_id", "start_tok")
      .localCheckpoint()
    graft.plans.Iterate.release(wins)
    out
  }

  /** The PPJoin result, memoized: the result set is O(dup pairs) — tiny
    * at the declared thresholds — so it is collected once and replayed
    * for the two downstream consumers, saving two full re-executions of
    * the exact-join pipeline per session. Corpus-scale callers with
    * large outputs should use the un-memoized pipeline directly. */
  private[operators] def ppjoinResult(s: SparkSession, d: String): DataFrame =
    graft.Memo.frame(s, "ppjoin", d, "documents")(computePpjoin(s, d))
      .orderBy("doc_a", "doc_b")

  /** brute-force similarity-join truth as a CTE chain ending in
    * `tpairs(doc_a, doc_b, jac)` — shared by the ppjoin row's oracle and
    * the exact-clusters closure oracle. */
  private def ppjoinTruthCtes: String =
    s"""base AS (SELECT doc_id, $toksSql AS tk FROM documents),
        g AS (SELECT DISTINCT doc_id, array_to_string(tk[p:p + 2], ' ') AS gram
              FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS p
                    FROM base) t),
        n AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
        i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
              FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
        tpairs AS (SELECT i.doc_a, i.doc_b,
            ROUND(inter * 1.0 / (na.n + nb.n - inter), 6) AS jac
          FROM i JOIN n na ON i.doc_a = na.doc_id JOIN n nb ON i.doc_b = nb.doc_id
          WHERE 5 * inter >= 3 * (na.n + nb.n - inter))"""

  /** brute-force similarity-join oracle — proves the prefix+positional
    * filtering lost nothing. A def: referenced from defs's initializer. */
  private def ppjoinOracleSql: String =
    s"""WITH $ppjoinTruthCtes
        SELECT doc_a, doc_b, jac FROM tpairs ORDER BY 1, 2"""
}
