package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document-corpus operators for a large-scale training-data pipeline, all
  * expressed as Catalyst column expressions (whole-stage-codegen friendly;
  * no UDFs in the hot path) over the `documents` table
  * (doc_id, text, lang, source, n_chars).
  */
object TextOps {

  private def tokens(c: Column): Column = split(c, " ")

  /** BPE-ish pre-tokenizer regex (GPT-2-style approximation): letter runs,
    * digit runs, and single non-space symbols each count as one token.
    * RE2-compatible so the DuckDB oracle evaluates it identically.
    */
  val BpeIshPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

  /** Per-document token/char statistics (token counting operator):
    * whitespace tokens plus a BPE-ish regex token count.
    */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      length(col("text")).as("chars"),
      size(tokens(col("text"))).as("tokens"),
      size(array_distinct(tokens(col("text")))).as("distinct_tokens"),
      regexp_count(col("text"), lit(BpeIshPattern)).as("bpe_ish_tokens"))

  /** Quality scoring: length, mean token length, stopword ratio,
    * punctuation ratio, repetition (distinct/total tokens). Heuristics are
    * deliberately simple and deterministic — scale costs nothing since it
    * is one codegen'd projection.
    */
  val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  def qualityScore(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    val stopArr = array(stopwords.map(lit): _*)
    val stopCount = size(filter(t, x => array_contains(stopArr, x)))
    docs.select(
      col("doc_id"),
      round(size(t).cast("double") / greatest(length(col("text")), lit(1)), 4).as("token_density"),
      round(stopCount.cast("double") / greatest(size(t), lit(1)), 4).as("stopword_ratio"),
      round(size(array_distinct(t)).cast("double") / greatest(size(t), lit(1)), 4).as("distinct_ratio"))
  }

  /** N-gram heuristic language ID: score against tiny per-language marker
    * sets; deterministic argmax — equal scores break on DESCENDING language
    * code (the struct sort is score-major descending, so the lang field
    * rides along descending; the DuckDB oracle replicates exactly this
    * order, which pins it as the contract).
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "is", "of"),
    "de" -> Seq("der", "und", "ist", "das"),
    "fr" -> Seq("le", "et", "est", "les"),
    "es" -> Seq("el", "y", "es", "los"))

  def langId(docs: DataFrame): DataFrame = {
    val t = tokens(lower(col("text")))
    val scores = langMarkers.toSeq.sortBy(_._1).map { case (lang, ms) =>
      val arr = array(ms.map(lit): _*)
      struct(size(filter(t, x => array_contains(arr, x))).as("score"), lit(lang).as("lang"))
    }
    val best = sort_array(array(scores: _*), asc = false).getItem(0)
    docs.select(
      col("doc_id"),
      best.getField("lang").as("lang_guess"),
      best.getField("score").as("lang_score"))
  }

  /** Rolling-hash document fingerprint (content-defined, order-sensitive):
    * Horner fold over engine-portable token hashes — bit-for-bit
    * reproducible in the DuckDB oracle (PortableHash), unlike xxhash64.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      aggregate(transform(tokens(col("text")), t => PortableHash.tokenHash(t)), lit(0L),
        (acc, h) => pmod(acc * 31L + h, lit(PortableHash.FingerprintP))).as("fingerprint"))

  /** Exact duplicate groups by full-text hash (hash-groupBy dedup).
    * Map-side partial aggregation makes this one cheap shuffle of
    * (hash → counts), not of documents.
    */
  def exactDupGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_md5"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc_id"))

  /** In-order word n-gram occurrence windows over a token array. Documents
    * shorter than n tokens yield no windows. A native codegen expression
    * (graft.functions.WordGrams) — the composable
    * `transform(sequence…, i -> concat_ws(" ", slice(t, i+1, n)))` form it
    * replaces ran interpreted (higher-order functions are CodegenFallback)
    * and allocated a slice per window, dominating the shingle family's
    * CPU; parity (incl. null/short inputs) is spec-asserted.
    */
  private def gramWindows(t: Column, n: Int): Column =
    graft.functions.WordGrams(t, n)

  /** Distinct word k-shingles per document. The input is spread to the
    * session's parallelism first (guide §2.5): the tokenize+explode here is
    * the most expensive projection of the dedup family, and a small corpus
    * arriving as one scan partition would otherwise run it on one core.
    */
  def shingles(docs: DataFrame, k: Int): DataFrame =
    graft.spark.Parallelism.spread(docs).select(col("doc_id"),
      explode(array_distinct(gramWindows(tokens(col("text")), k))).as("shingle"))

  /** Exact n-gram Jaccard near-duplicate pairs ≥ threshold: explode
    * distinct shingles, self-join on shingle (shuffle co-partitioned on the
    * shingle key), count intersections, compute |A∩B| / (|A|+|B|-|A∩B|).
    * At scale the shingle join is the classic "documents never pair
    * all-vs-all" trick: cost is Σ bucket².
    *
    * `maxDf` caps shingle document frequency before the self-join: a single
    * corpus-common shingle ("of the and") otherwise makes one join bucket
    * quadratic at 100 TB. Capped shingles are dropped from BOTH the
    * intersection AND the per-doc sizes — i.e. Jaccard over the capped
    * shingle sets, a well-defined (and oracle-replicated) semantics. On the
    * test corpus max df is single-digit, so results are unchanged.
    */
  def jaccardPairs(docs: DataFrame, k: Int, threshold: Double,
                   maxDf: Long = 1000L): DataFrame = {
    val sh = cappedShingles(docs, k, maxDf)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val a = sh.as("a")
    val b = sh.as("b")
    val inter = a.join(b, col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    verifyJaccard(inter, sizes, sizes, threshold)
  }

  /** Shingles minus those appearing in more than maxDf documents (the df
    * filter is one partial-agg groupBy on the shingle key + a semi-join
    * back — both shuffles are on the same key, so AQE coalesces them).
    *
    * The result is materialized (localCheckpoint): every consumer (pair
    * join sides, per-doc sizes, signature minima) would otherwise re-run
    * the tokenize→explode→df-filter pipeline — recomputing the most
    * expensive projection in the dedup family 3-5 times.
    */
  def cappedShingles(docs: DataFrame, k: Int, maxDf: Long): DataFrame = {
    val sh = shingles(docs, k).localCheckpoint()
    val rare = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select(col("shingle"))
    sh.join(rare, Seq("shingle"), "left_semi").localCheckpoint()
  }

  /** |A∩B|/(|A|+|B|−|A∩B|) ≥ threshold from intersection counts + sizes —
    * the ONE Jaccard-verify arithmetic (rounding, threshold comparison,
    * capped-set semantics), shared by within-corpus and cross-snapshot
    * dedup so the two decisions cannot drift. `sizesA`/`sizesB` are the
    * same frame for within-corpus pairs, the two snapshots' own size
    * tables for cross-snapshot pairs.
    */
  private def verifyJaccard(inter: DataFrame, sizesA: DataFrame, sizesB: DataFrame,
                            threshold: Double): DataFrame =
    inter
      .join(sizesA.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizesB.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** MinHash + LSH banding near-dup candidates, verified with exact Jaccard.
    * numHashes independent permutations approximated by seeded xxhash64;
    * rows (numHashes/bands per band) hashed to a band key; candidate pairs
    * share ≥1 band bucket — the join is on (band, signature-slice), never
    * all-pairs. Probabilistic recall; verification keeps precision exact.
    */
  /** (doc_id, band, sig) MinHash band signatures from a capped shingle
    * table: for each permutation i, min over shingles of
    * (a_i·h31(shingle) + b_i) mod P31 — all portable arithmetic, so the
    * DuckDB oracle reproduces the signatures bit-for-bit. Shared by the
    * within-corpus pair finder and the cross-snapshot dedup (where the
    * existing corpus's signatures are the write-once artifact).
    */
  private def bandedSignatures(sh: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    val based = sh.withColumn("h0", PortableHash.tokenHash31(col("shingle")))
    val sigCols = (0 until numHashes).map(i =>
      min(PortableHash.permuted(col("h0"), i)).as(s"h$i"))
    val sig = based.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        PortableHash.bandFold((b * rows until (b + 1) * rows).map(i => col(s"h$i")))
          .as("sig")).as(s"b$b")
    }
    sig.select(col("doc_id") +: bandCols: _*)
      .select(col("doc_id"), explode(array((0 until bands).map(b => col(s"b$b")): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.sig").as("sig"))
  }

  def minhashLshPairs(docs: DataFrame, k: Int, numHashes: Int, bands: Int,
                      threshold: Double, maxDf: Long = 1000L): DataFrame = {
    val sh = cappedShingles(docs, k, maxDf)
    val banded = bandedSignatures(sh, numHashes, bands)
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // exact verification of candidates only: composite-key joins so the
    // second join hashes on (doc_b, shingle) — never |cand|×|sh_a|×|sh_b|
    val shA = sh.select(col("doc_id").as("doc_a"), col("shingle"))
    val shB = sh.select(col("doc_id").as("doc_b"), col("shingle"))
    val inter = cand
      .join(shA, "doc_a")
      .join(shB, Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    verifyJaccard(inter, sizes, sizes, threshold)
  }

  /** CROSS-SNAPSHOT incremental dedup — the continuous-ingestion op: which
    * docs of a NEW batch near-duplicate something already in the EXISTING
    * corpus? Returns `(doc_new, doc_old, jaccard)` pairs with exact
    * capped-shingle Jaccard ≥ threshold (same verify discipline as
    * [[minhashLshPairs]]; a batch doc may match several corpus docs — the
    * caller's keep-policy aggregates).
    *
    * Semantics: each side's df-cap is computed over ITS OWN corpus — in
    * deployment the existing corpus's capped shingles and band signatures
    * are write-once artifacts computed when those docs were ingested, so
    * a new batch cannot retroactively change them. (A batch doc whose
    * every shingle is corpus-common in the OLD corpus still matches — the
    * cap only guards the old side's own join buckets.)
    *
    * 100-TB shape: use [[dedupIndex]] + [[crossDedupIndexed]] — the
    * corpus' capped shingles are a WRITE-ONCE artifact computed at ingest
    * and persisted; each batch then computes signatures over |batch| docs
    * only and equi-joins the stored index on (band, sig) — the corpus'
    * text is never re-shingled; with |batch| ≪ |corpus| AQE broadcasts
    * the batch side of the candidate join, so the corpus signature table
    * streams map-side. Exact-verify joins stay composite-keyed
    * (doc, shingle) — never |cand| × shingles. This convenience overload
    * builds the index inline (checkpointed, so the corpus is shingled
    * exactly once per call — still a full-corpus pass; steady-state
    * ingestion should persist the index instead).
    */
  def crossDedup(existing: DataFrame, incoming: DataFrame, k: Int,
                 numHashes: Int, bands: Int, threshold: Double,
                 maxDf: Long = 1000L): DataFrame =
    // dedupIndex (= cappedShingles) is already materialized — a second
    // localCheckpoint here would re-store the largest dedup intermediate
    crossDedupIndexed(dedupIndex(existing, k, maxDf),
      incoming, k, numHashes, bands, threshold, maxDf)

  /** The write-once per-snapshot dedup index: capped shingle rows
    * `(doc_id, shingle)`, from which band signatures and shingle-set
    * sizes derive. Computed at ingest, persisted with the corpus (e.g. a
    * parquet table bucketed by shingle), and handed to
    * [[crossDedupIndexed]] for every later batch — the df-cap is fixed at
    * snapshot time, so a new batch can never retroactively change the
    * corpus' own join buckets.
    */
  def dedupIndex(docs: DataFrame, k: Int, maxDf: Long = 1000L): DataFrame =
    cappedShingles(docs, k, maxDf)

  /** The other two write-once index artifacts, derived from [[dedupIndex]]
    * at ingest and persisted beside it: the corpus' band signatures and
    * per-doc capped-shingle sizes. Steady-state ingestion hands all three
    * to [[crossDedupPrecomputed]] so a batch never re-aggregates the
    * corpus.
    */
  def indexSignatures(index: DataFrame, numHashes: Int, bands: Int): DataFrame =
    bandedSignatures(index, numHashes, bands)

  def indexSizes(index: DataFrame): DataFrame =
    index.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))

  /** [[crossDedup]] against a PRECOMPUTED corpus shingle index (the corpus
    * text is never touched; the index is read, not rebuilt). The incoming
    * batch is shingled once (checkpointed — it feeds the signature build,
    * the verify join, and the size agg).
    *
    * This overload still derives the corpus' signatures and sizes from the
    * shingle index — one full-index aggregation pass per call. At
    * steady-state ingestion persist those too ([[indexSignatures]] /
    * [[indexSizes]], write-once like the index itself) and call
    * [[crossDedupPrecomputed]]: each batch then aggregates |batch| rows
    * only and equi-joins the stored artifacts.
    */
  def crossDedupIndexed(existingIndex: DataFrame, incoming: DataFrame, k: Int,
                        numHashes: Int, bands: Int, threshold: Double,
                        maxDf: Long = 1000L): DataFrame =
    crossDedupPrecomputed(existingIndex,
      indexSignatures(existingIndex, numHashes, bands),
      indexSizes(existingIndex),
      incoming, k, numHashes, bands, threshold, maxDf)

  /** Cross-snapshot dedup against the fully precomputed corpus artifacts
    * — the 100-TB deployment path: per batch, only the batch itself is
    * shingled/aggregated; the corpus side contributes three stored tables
    * (shingle index for the exact verify, band signatures for candidates,
    * sizes for the Jaccard denominator) that stream through equi-joins.
    */
  def crossDedupPrecomputed(existingIndex: DataFrame, existingSigs: DataFrame,
                            existingSizes: DataFrame, incoming: DataFrame,
                            k: Int, numHashes: Int, bands: Int,
                            threshold: Double, maxDf: Long = 1000L): DataFrame = {
    val shNew = cappedShingles(incoming, k, maxDf).localCheckpoint()
    val cand = bandedSignatures(shNew, numHashes, bands)
      .select(col("doc_id").as("doc_new"), col("band"), col("sig"))
      .join(existingSigs
        .select(col("doc_id").as("doc_old"), col("band"), col("sig")),
        Seq("band", "sig"))
      .select(col("doc_new"), col("doc_old"))
      .distinct()
    val inter = cand
      .join(shNew.select(col("doc_id").as("doc_new"), col("shingle")), "doc_new")
      .join(existingIndex.select(col("doc_id").as("doc_old"), col("shingle")),
        Seq("doc_old", "shingle"))
      .groupBy("doc_new", "doc_old").agg(count(lit(1)).as("inter"))
    // the shared verify arithmetic works in doc_a/doc_b terms; rename at
    // the boundary so cross-snapshot decisions ride the same code path
    verifyJaccard(
      inter.withColumnRenamed("doc_new", "doc_a").withColumnRenamed("doc_old", "doc_b"),
      indexSizes(shNew), existingSizes, threshold)
      .select(col("doc_a").as("doc_new"), col("doc_b").as("doc_old"), col("jaccard"))
  }

  /** Text near-duplicate DEDUP decision: MinHash+LSH candidate pairs
    * (exact-Jaccard verified ≥ threshold) → connected components (transitive
    * duplicates merge) → each group keeps its least doc_id. Returns
    * (doc_id, keep_id) for every document in some near-dup group; rows with
    * doc_id != keep_id are the drop list. Ids compare as strings (CC's
    * label domain), both here and in the oracle.
    */
  def nearDupGroups(docs: DataFrame, k: Int, numHashes: Int, bands: Int,
                    threshold: Double, maxDf: Long = 1000L): DataFrame = {
    val pairs = minhashLshPairs(docs, k, numHashes, bands, threshold, maxDf)
    val edges = pairs.select(col("doc_a").cast("string").as("src"),
      col("doc_b").cast("string").as("dst"))
    graft.spark.ConnectedComponents.run(edges)
      .select(col("node").as("doc_id"), col("component").as("keep_id"))
  }

  /** Exact-substring duplication statistics (the span-level dedup signal of
    * Lee et al., "Deduplicating Training Data Makes Language Models Better",
    * ACL'22 — recast from suffix arrays to a distributed gram-frequency
    * join): for window length L tokens, a document's distinct L-gram windows
    * are marked duplicated when the same window occurs in ≥2 distinct
    * documents; the per-document duplicated-window ratio is the drop/trim
    * signal. Returns (doc_id, n_windows, dup_windows, dup_ratio) for every
    * document with ≥1 window.
    *
    * Scale shape: explode distinct windows → one partial-agg groupBy(gram)
    * for document frequency → semi-join back on the same gram key (AQE
    * coalesces the co-partitioned shuffles) → partial-agg groupBy(doc_id).
    * Nothing is quadratic in documents and no gram list ever sits on the
    * driver; corpus-common grams cost one long aggregation cell, not a join
    * bucket.
    */
  def substringDupStats(docs: DataFrame, windowTokens: Int): DataFrame = {
    val w = shingles(docs, windowTokens).localCheckpoint()
    val dupGrams = w.groupBy(col("shingle"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2)
      .select(col("shingle"))
    val dupPerDoc = w.join(dupGrams, Seq("shingle"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("dup_windows"))
    w.groupBy(col("doc_id")).agg(count(lit(1)).as("n_windows"))
      .join(dupPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        round(coalesce(col("dup_windows"), lit(0L)).cast("double") / col("n_windows"), 4)
          .as("dup_ratio"))
  }

  /** Benchmark decontamination: flag corpus documents sharing ≥1 L-token
    * gram with any benchmark document (the n-gram-overlap test used to
    * scrub eval sets out of training corpora). Returns every corpus doc with
    * its distinct shared-gram count and a contaminated flag.
    *
    * Scale shape: the benchmark gram set is tiny relative to the corpus
    * (eval suites are ~10⁴-10⁶ grams vs 10¹²-gram corpora), so it is
    * explicitly `broadcast()` — the corpus side streams map-side through a
    * BroadcastHashJoin and the only shuffle is the per-doc partial-agg
    * count. Grams are md5-hashed before the join so the broadcast build
    * side carries fixed-width keys, not window text.
    */
  def decontaminate(docs: DataFrame, bench: DataFrame, windowTokens: Int): DataFrame = {
    val corpusGrams = shingles(docs, windowTokens)
      .select(col("doc_id"), md5(col("shingle")).as("g"))
    val benchGrams = broadcast(
      shingles(bench, windowTokens).select(md5(col("shingle")).as("g")).distinct())
    val hits = corpusGrams.join(benchGrams, Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    docs.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Deterministic train/val/test assignment by engine-portable id hash:
    * split = hash(doc_id) mod 100 against [trainPct, trainPct+valPct)
    * boundaries. Hash-based (not random) so membership is STABLE under
    * corpus growth, reshuffling, and re-runs — adding documents never moves
    * an existing one across splits, the property a training pipeline needs
    * for honest eval. Pure codegen'd projection; embarrassingly parallel.
    */
  def hashSplit(docs: DataFrame, trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    // coalesce: a null doc_id otherwise yields bucket = null, which fails
    // BOTH when() branches and silently lands every null-id doc in "test"
    val bucket = pmod(PortableHash.tokenHash31(
      coalesce(col("doc_id").cast("string"), lit(""))), lit(100L))
    docs.select(col("doc_id"), bucket.as("bucket"),
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + valPct, "val")
        .otherwise("test").as("split"))
  }

  /** Engine-portable PII patterns (identical semantics under Java regex and
    * RE2): no backreferences, no lookaround, explicit character classes.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
  val PhonePattern = "\\+1-[0-9]{3}-[0-9]{4}"

  /** PII redaction over an arbitrary text column: counts and masks email
    * addresses and phone numbers (regexp patterns chosen for identical Java
    * regex / RE2 semantics so the oracle replays them). One codegen'd
    * projection — no UDFs, no shuffle; at 100 TB this is scan-bound.
    */
  def scrubPii(df: DataFrame, textCol: String): DataFrame = {
    // phones are counted on the EMAIL-MASKED text (the same text the phone
    // replacement runs on), so n_phones always equals the number of
    // emitted <PHONE> tokens — a phone-shaped substring inside an email
    // local part ('+','-' are legal there) is consumed by <EMAIL>, and
    // counting it as a phone would make counts and masks disagree
    val emailMasked = regexp_replace(col(textCol), EmailPattern, "<EMAIL>")
    df.withColumn("n_emails", regexp_count(col(textCol), lit(EmailPattern)))
      .withColumn("n_phones", regexp_count(emailMasked, lit(PhonePattern)))
      .withColumn("clean_text",
        regexp_replace(emailMasked, PhonePattern, "<PHONE>"))
  }

  /** Corpus-level top-k n-grams by total occurrence count (the global
    * vocabulary/statistics table of a training-data pipeline).
    * Deterministic order: count desc, gram asc.
    *
    * Scale shape: occurrence windows explode map-side into a partial-agg
    * groupBy(gram); the final per-partition top-k + driver merge is
    * TakeOrderedAndProject, so only k rows ever leave each partition.
    */
  def ngramTopK(docs: DataFrame, n: Int, k: Int): DataFrame = {
    graft.spark.Parallelism.spread(docs)
      .select(explode(gramWindows(tokens(col("text")), n)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("n_occ"))
      .orderBy(col("n_occ").desc, col("gram").asc)
      .limit(k)
  }

  /** Deterministic stratified sampling: keep a document iff its portable
    * (stratum:doc_id) hash mod 1000 falls under the stratum's per-mille
    * rate. Like [[hashSplit]], membership is stable under corpus growth and
    * independent of partitioning — a re-run or a bigger corpus never flips
    * an existing doc's fate, which random sampling cannot promise. One
    * codegen'd filter; the stratum→rate map folds into a literal CASE (a
    * pipeline has dozens of strata, not millions).
    */
  def stratifiedSample(docs: DataFrame, stratumCol: String,
                       ratesPerMille: Map[String, Int],
                       defaultPerMille: Int): DataFrame = {
    // a null stratum is a real corpus condition, not an error: it samples
    // at the DEFAULT rate (without the coalesce, the null would poison the
    // hash concat and silently drop every null-stratum row from every
    // sample regardless of rate)
    val stratum = coalesce(col(stratumCol).cast("string"), lit(""))
    val rate = ratesPerMille.toSeq.sortBy(_._1).foldLeft(lit(defaultPerMille)) {
      case (acc, (s, r)) => when(stratum === s, lit(r)).otherwise(acc)
    }
    val h = pmod(PortableHash.tokenHash31(
      concat(stratum, lit(":"), coalesce(col("doc_id").cast("string"), lit("")))),
      lit(1000L))
    docs.filter(h < rate)
  }

  /** Gopher-style document quality rule filters (Rae et al. 2021 §A1.1,
    * recast to this corpus's scale): per-doc boolean rules plus the
    * conjunction `keep`. All rule inputs are exact integer/ratio
    * arithmetic over the token array — one codegen'd projection.
    */
  def qualityFilters(docs: DataFrame, minWords: Int = 50, maxWords: Int = 100000,
                     minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                     minStopRatio: Double = 0.02, minDistinctRatio: Double = 0.3): DataFrame = {
    val t = tokens(col("text"))
    val nWords = size(t)
    val meanLen = aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double") /
      greatest(nWords, lit(1))
    val stopArr = array(stopwords.map(lit): _*)
    val stopRatio = size(filter(t, x => array_contains(stopArr, x))).cast("double") /
      greatest(nWords, lit(1))
    val distinctRatio = size(array_distinct(t)).cast("double") / greatest(nWords, lit(1))
    val okWords = nWords >= minWords && nWords <= maxWords
    val okLen = meanLen >= minMeanWordLen && meanLen <= maxMeanWordLen
    val okStop = stopRatio >= minStopRatio
    val okRep = distinctRatio >= minDistinctRatio
    docs.select(col("doc_id"), nWords.cast("long").as("n_words"),
      round(meanLen, 4).as("mean_word_len"),
      round(stopRatio, 4).as("stop_ratio"),
      round(distinctRatio, 4).as("distinct_ratio"),
      okWords.as("ok_words"), okLen.as("ok_len"), okStop.as("ok_stop"),
      okRep.as("ok_rep"), (okWords && okLen && okStop && okRep).as("keep"))
  }

  /** Corpus-frequency rarity score (the unigram-LM quality signal of
    * CCNet-style filters, made engine-exact): token rarity =
    * ilog2(corpus token total) − ilog2(count(token)), a pure-integer
    * surprisal proxy (floating log() is NOT bit-portable across engines —
    * JVM Math.log and C libm may differ in the last ulp, and FP sums
    * reorder under parallel aggregation; integer ilog2 via bin-string
    * length sidesteps both). Doc score = mean token rarity; high = rare
    * vocabulary, low = boilerplate.
    *
    * Scale shape: the unigram count table is vocabulary-sized (10⁸+ rows at
    * corpus scale), so it is NOT broadcast — tokens join counts
    * co-partitioned on the token key (partial-agg count, shuffle join on
    * the same key that AQE coalesces), then one partial-agg mean per doc.
    */
  def unigramRarity(docs: DataFrame): DataFrame = {
    def ilog2(c: Column): Column = length(bin(c)) - 1
    // no spread: the plain-token explode is cheap (measured — the
    // repartition shuffle outweighed the parallelism at any width the
    // single-file case produces)
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .localCheckpoint() // tokenize once for both the counts and the join
    val counts = tok.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    // the corpus total is ONE scalar — taking it as a count action over the
    // checkpointed token table and folding ilog2(total) into a literal
    // keeps the vocabulary join plan clean (attaching a 1-row frame via a
    // constant-key join degenerates to a BroadcastNestedLoopJoin, and an
    // empty-frame window would funnel the whole vocabulary through one
    // partition); same scalar-strategy precedent as ConnectedComponents.run
    val totalIlog2 = 63 - java.lang.Long.numberOfLeadingZeros(tok.count())
    val rarity = counts
      .withColumn("rarity", (lit(totalIlog2) - ilog2(col("c"))).cast("long"))
      .select(col("tok"), col("rarity"))
    tok.join(rarity, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("rarity")).cast("double") / count(lit(1)), 4).as("mean_rarity"))
  }

  /** Fixed-window token chunking with overlap (the pretraining sample-prep
    * stage: long documents become training-sized sequences; `stride` <
    * `chunkTokens` keeps context across boundaries). Chunk starts are
    * 0, stride, 2·stride, … while they fall inside the document; the last
    * chunk may be short. One codegen'd explode — embarrassingly parallel,
    * no shuffle; chunk identity travels as (doc_id, chunk_idx).
    */
  def chunk(docs: DataFrame, chunkTokens: Int, stride: Int): DataFrame = {
    require(stride > 0 && chunkTokens >= stride, "need 0 < stride <= chunkTokens")
    val t = tokens(col("text"))
    // null/empty text must yield NO chunks — without the guard, size(null)
    // is null/−1 and sequence(0, −1) DESCENDS (same trap shingles guards)
    val starts = when(size(t) >= 1,
        sequence(lit(0), floor((size(t) - 1) / stride).cast("int")))
      .otherwise(array().cast("array<int>"))
    docs.select(col("doc_id"),
        posexplode(transform(starts, i => slice(t, i * stride + 1, lit(chunkTokens)))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        size(col("col")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("col"))).as("chunk_md5"))
  }

  /** Data-mixture weighting — the sampling-ratio step of multi-source
    * corpus assembly (the `source` column is the mixture domain): per
    * source, token mass, a TEMPERATURE-FLATTENED weight (α = 1/2, i.e.
    * p_i^α square-root scaling as in multilingual XLM-style sampling —
    * big sources are damped so small sources keep representation), and the
    * per-source sampling rate that would hit `targetTokens` total, capped
    * at `maxRatePpm` (an epochs cap: a tiny source is never oversampled
    * into memorization).
    *
    * EXACT integer arithmetic end to end: isqrt for the temperature (floor
    * ∘ IEEE sqrt is exact for token counts < 2^52), parts-per-million
    * rational shares via integer division — bit-identical on any engine,
    * no FP summation-order drift for the oracle to trip on. Bounds:
    * weight_ppm ≤ 10⁶ and the rate numerator weight_ppm·targetTokens must
    * stay under 2^63 — targetTokens ≤ ~9·10¹² (a 9-trillion-token budget)
    * before the ppm scale must drop a digit.
    *
    * Scale shape: one partial-agg groupBy on the vocabulary-bounded source
    * column (map-side combine, dozens of output rows); the share window
    * runs over that CATALOG-SIZED table, not the corpus — the
    * single-partition window is over ~dozens of rows by construction.
    */
  def sourceMixture(docs: DataFrame, targetTokens: Long,
                    maxRatePpm: Long = 4000000L): DataFrame = {
    require(targetTokens > 0 && maxRatePpm > 0, "positive target and cap required")
    // the documented overflow bound, ENFORCED: weight_ppm (≤ 10⁶) times
    // targetTokens must stay under 2^63 or the non-ANSI multiply wraps
    // silently into a garbage (possibly negative) rate
    require(targetTokens <= Long.MaxValue / 1000000L,
      s"targetTokens $targetTokens overflows the ppm rate arithmetic " +
        s"(max ${Long.MaxValue / 1000000L})")
    // a source whose docs all have NULL text must report ZERO mass and
    // ZERO sampling rate — without the coalesce, NULL tokens ripple to a
    // NULL rate which least() SKIPS (both engines), reporting the CAP (max
    // oversampling) for a degenerate source; the per-row greatest() guards
    // legacy sizeOfNull's -1 from SUBTRACTING mass
    val perSource = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(greatest(size(tokens(col("text"))).cast("long"), lit(0L))),
          lit(0L)).as("tokens"))
      .withColumn("w", floor(sqrt(col("tokens").cast("double"))).cast("long"))
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy()
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    perSource
      .withColumn("total_w", sum(col("w")).over(all))
      // integer DIV, not `/`: long division must be exact floor division in
      // BOTH engines (Spark `/` on longs is IEEE double division); the
      // tokens = 0 guard keeps the rate total (Spark DIV 0 is NULL but
      // DuckDB // 0 throws — the guard makes both emit 0)
      .withColumn("weight_ppm", expr("(w * 1000000L) DIV greatest(total_w, 1L)"))
      .select(col("source"), col("n_docs"), col("tokens"), col("weight_ppm"),
        when(col("tokens") > 0,
            least(lit(maxRatePpm),
              expr(s"(weight_ppm * ${targetTokens}L) DIV tokens")))
          .otherwise(lit(0L)).as("sample_rate_ppm"))
  }

  /** Sequence packing — the corpus-serialization step of pretraining-data
    * assembly: the corpus is concatenated in stable doc_id order and cut
    * into fixed `seqTokens`-token training sequences; each document
    * reports its global token offset and the first/last sequence it lands
    * in (a doc spanning a cut contributes to both sides — the standard
    * concat-then-chunk packing, no padding waste).
    *
    * Deterministic and engine-portable: token offsets are an exact
    * prefix sum over the TOTAL doc_id order, so the layout is a pure
    * function of the corpus — re-runs, retries and the DuckDB oracle all
    * produce the identical packing. A zero-token document (null/empty
    * text) occupies no tokens: it reports its boundary position with
    * `n_seqs` = 0.
    *
    * Scale shape — the two-pass distributed prefix sum, NOT a global
    * window (a `Window.orderBy` with no partition key requires AllTuples:
    * Spark moves the whole corpus into ONE partition — the exact scale
    * collapse this operator must avoid):
    *  1. range-partition + sort by doc_id (the floor cost: packing
    *     inherently requires a total order) and pin the partitioning with
    *     a localCheckpoint so both passes see identical partition ids;
    *  2. per-partition token sums → a numPartitions-sized row set on the
    *     driver (KB at any corpus size) → broadcast cumulative offsets;
    *  3. one mapPartitions pass adds each partition's offset to its local
    *     running sum — no second shuffle, no single-partition stage.
    * Everything after the offsets is a codegen'd projection.
    */
  def packSequences(docs: DataFrame, seqTokens: Int): DataFrame = {
    require(seqTokens > 0, "seqTokens must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val sorted = docs
      .select(col("doc_id").cast("long").as("doc_id"),
        // size(null) is -1 with legacy sizeOfNull; normalize negatives to 0
        greatest(coalesce(size(tokens(col("text"))).cast("long"), lit(0L)), lit(0L))
          .as("tokens"))
      .repartitionByRange(col("doc_id"))
      .sortWithinPartitions("doc_id")
      .localCheckpoint() // pin partition ids across the two passes
    val partSums = sorted
      .groupBy(spark_partition_id().as("pid")) // evaluated map-side, pre-shuffle
      .agg(sum(col("tokens")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nParts = sorted.rdd.getNumPartitions
    val offsets = (0 until nParts)
      .scanLeft(0L)((acc, pid) => acc + partSums.getOrElse(pid, 0L))
    val bc = spark.sparkContext.broadcast(offsets.toArray)
    sorted.as[(Long, Long)].mapPartitions { it =>
      var cum = bc.value(org.apache.spark.TaskContext.getPartitionId())
      it.map { case (docId, t) =>
        val start = cum
        cum += t
        (docId, t, start)
      }
    }.toDF("doc_id", "tokens", "start_offset")
      .select(col("doc_id"), col("tokens"), col("start_offset"),
        expr(s"start_offset DIV $seqTokens").as("first_seq"),
        when(col("tokens") > 0,
            expr(s"(start_offset + tokens - 1) DIV $seqTokens"))
          .otherwise(expr(s"start_offset DIV $seqTokens")).as("last_seq"))
      .withColumn("n_seqs",
        when(col("tokens") > 0, col("last_seq") - col("first_seq") + 1)
          .otherwise(lit(0L)))
  }

  /** Gopher-style within-document repetition filters (Rae et al. 2021
    * §A1.1, recast from line/paragraph structure to token streams — this
    * corpus has no newlines): the top nTop-gram's character-coverage
    * fraction (count × gram chars / doc chars — boilerplate repeats short
    * phrases) and the duplicate nDup-gram window fraction (1 −
    * distinct/total windows — loopy generated text repeats long spans).
    * `keep` is the conjunction of both thresholds.
    *
    * Scale shape: the dup-window fraction is a pure codegen'd projection
    * (array_distinct hashes per doc — linear, no shuffle). The top n-gram
    * needs per-(doc, gram) counts: one partial-agg groupBy(doc_id, gram),
    * then a partial-agg groupBy(doc_id) taking the lexicographic max of
    * (count, gram) structs — both shuffles carry count rows, never
    * document text, and the deterministic (count desc, gram desc) tiebreak
    * is what lets an oracle replay the argmax exactly. Docs shorter than
    * nTop tokens have no top gram (null, count 0, coverage 0).
    */
  def repetitionStats(docs: DataFrame, nTop: Int = 2, nDup: Int = 5,
                      topCharFracMax: Double = 0.20,
                      dupWindowFracMax: Double = 0.30): DataFrame = {
    val t = tokens(col("text"))
    val w = gramWindows(t, nDup)
    val base = docs.select(col("doc_id"), length(col("text")).as("chars"),
      size(t).cast("long").as("n_tokens"),
      size(w).cast("long").as("n_windows"),
      (size(w) - size(array_distinct(w))).cast("long").as("dup_windows"))
    val top = docs.select(col("doc_id"), explode(gramWindows(t, nTop)).as("gram"))
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(struct(col("c"), col("gram"))).as("top"))
      .select(col("doc_id"), col("top.gram").as("top_gram"),
        col("top.c").as("top_gram_n"))
    base.join(top, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_windows"), col("dup_windows"),
        round(col("dup_windows").cast("double") /
          greatest(col("n_windows"), lit(1L)), 4).as("dup_window_frac"),
        col("top_gram"),
        coalesce(col("top_gram_n"), lit(0L)).as("top_gram_n"),
        round(coalesce(col("top_gram_n") * length(col("top_gram")), lit(0L))
          .cast("double") / greatest(col("chars"), lit(1)), 4).as("top_char_frac"))
      .withColumn("keep",
        col("top_char_frac") <= topCharFracMax &&
          col("dup_window_frac") <= dupWindowFracMax)
  }

  /** Adjacent-symbol-pair frequencies within whitespace tokens — the
    * counting step of one BPE merge round (tokenizer induction): the
    * corpus-wide top-k character pairs are the merge candidates.
    *
    * Scale shape: same as [[ngramTopK]] — pairs explode map-side into a
    * partial-agg groupBy whose key space is alphabet²-bounded (tiny — the
    * shuffle carries a few thousand count rows per partition), and
    * TakeOrderedAndProject moves only k rows to the driver. Deterministic
    * order: count desc, pair asc.
    */
  def bpePairCounts(docs: DataFrame, k: Int): DataFrame =
    graft.spark.Parallelism.spread(docs)
      .select(explode(tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("tok")) - 1),
        i => col("tok").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n_occ"))
      .orderBy(col("n_occ").desc, col("pair").asc)
      .limit(k)

  /** Closed symbol alphabet for [[bpeEncode]]: normalization drops
    * everything else, so the `<sym>` delimiters can never collide with
    * document content.
    */
  private val BpeAlphabet = "[a-z0-9 ]"

  /** Per-document BPE APPLICATION — the other half of the tokenizer story
    * [[bpePairCounts]] starts (pair counting = training signal; encoding
    * with a learned merge list is the op that runs over the whole corpus,
    * i.e. the 100-TB side). Returns `(doc_id, n_tokens, n_chars)`:
    * the token count after applying `merges` IN LIST ORDER and the
    * pre-merge symbol count.
    *
    * Semantics: **merge-list-order application** (the Sennrich
    * training-time procedure): each merge `(a, b)` rewrites all
    * non-overlapping occurrences of ab left-to-right before the next
    * merge applies — later merges see earlier merges' output, so
    * `("t","h")` then `("th","e")` composes. This is deliberately NOT the
    * min-rank-greedy variant some runtime encoders use: list-order is
    * deterministic, composes as pure string rewriting, and is therefore
    * bit-for-bit replayable by the DuckDB oracle as a `replace(...)`
    * chain.
    *
    * Spark-first shape: text normalizes to the closed `[a-z0-9 ]`
    * alphabet, each symbol wraps as `<s>` (delimiters make pair matches
    * unambiguous — `<a><b>` can never straddle a symbol boundary or match
    * inside a longer symbol), and every merge is one codegen'd
    * [[org.apache.spark.sql.functions.replace]] — the whole encoder is a
    * single whole-stage-codegen projection, no UDF, no shuffle, scan-bound
    * at any corpus size. The merge list inlines into the plan, which is
    * the right trade up to vocab-scale lists (~1k merges); past that the
    * expression tree itself gets large.
    */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    requireValidMerges(merges)
    val sym = delimitedSymbols(col("text"))
    val enc = merges.foldLeft(sym) { case (acc, (a, b)) =>
      replace(acc, lit(s"<$a><$b>"), lit(s"<$a$b>"))
    }
    docs.select(col("doc_id"),
      symbolCount(enc).as("n_tokens"), symbolCount(sym).as("n_chars"))
  }

  private def delimitedSymbols(text: Column): Column =
    regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), "(.)", "<$1>")

  private def symbolCount(sym: Column): Column =
    (length(sym) - length(replace(sym, lit("<"), lit("")))).cast("long")

  private def requireValidMerges(merges: Seq[(String, String)]): Unit =
    merges.foreach { case (a, b) =>
      require(a.nonEmpty && b.nonEmpty && (a + b).matches(s"$BpeAlphabet+"),
        s"merge ('$a','$b') outside the closed alphabet $BpeAlphabet — " +
          "delimiter collision would corrupt the encoding")
    }

  /** The DuckDB replay of [[bpeEncode]] over a table named `documents` —
    * generated from the SAME merge list, so the oracle and the operator
    * have one source of truth.
    */
  def bpeEncodeOracleSql(merges: Seq[(String, String)]): String = {
    requireValidMerges(merges)
    val enc = merges.foldLeft("sym") { case (acc, (a, b)) =>
      s"replace($acc, '<$a><$b>', '<$a$b>')"
    }
    s"""WITH n AS (SELECT doc_id,
       |    regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
       |                   '(.)', '<\\1>', 'g') AS sym
       |  FROM documents),
       |e AS (SELECT doc_id, sym, $enc AS enc FROM n)
       |SELECT doc_id,
       |  CAST(length(enc) - length(replace(enc, '<', '')) AS BIGINT) AS n_tokens,
       |  CAST(length(sym) - length(replace(sym, '<', '')) AS BIGINT) AS n_chars
       |FROM e ORDER BY doc_id""".stripMargin
  }

  /** Near-equal layout of the 62-bit simhash into `nBlocks` contiguous
    * blocks, as (offset, width) pairs. With nBlocks = maxHamming + 1 this is
    * the classic pigeonhole banding (two hashes within Hamming distance d
    * agree exactly on ≥1 of d+1 disjoint bands) — the layout the DuckDB
    * oracle uses as an INDEPENDENT complete blocking.
    */
  def simhashBands(maxHamming: Int): Seq[(Int, Int)] = blockLayout(maxHamming + 1)

  private def blockLayout(nBlocks: Int): Seq[(Int, Int)] = {
    val base = SimhashBits / nBlocks
    val extra = SimhashBits % nBlocks
    val widths = Seq.tabulate(nBlocks)(b => base + (if (b < extra) 1 else 0))
    widths.scanLeft(0)(_ + _).zip(widths).take(nBlocks) // (offset, width)
  }

  /** Multi-table permuted block keys (Manku et al., WWW'07 §3): the 62 bits
    * split into `nBlocks` blocks; one table per choice of `nBlocks −
    * maxHamming` blocks, keyed on exactly those blocks. Completeness: two
    * hashes within Hamming distance d differ in ≤ d blocks, so SOME size-
    * (nBlocks−d) block subset avoids every differing block — in that table
    * the pair collides exactly.
    *
    * The join-key width is `62·(nBlocks−d)/nBlocks` bits (vs a fixed
    * 62/(d+1) ≈ 15 bits for the plain pigeonhole, whose ≤65k buckets/band
    * saturate at ≥10⁸ docs): expected bucket occupancy is n / 2^keyBits, so
    * choose nBlocks such that keyBits ≳ log₂(n) + 4. Cost: C(nBlocks, d)
    * tables (replication factor), e.g. d=3: nBlocks=6 → 20 tables / 31-bit
    * keys (n ≤ ~10⁸); nBlocks=5 → 10 tables / 24-bit keys; nBlocks=4 is the
    * pigeonhole (4 tables / 15-bit keys) for small corpora.
    *
    * @return per table, the (offset, width) list of its key blocks.
    */
  def simhashPermutedTables(maxHamming: Int, nBlocks: Int): Seq[Seq[(Int, Int)]] = {
    require(nBlocks > maxHamming, "need more blocks than allowed differing bits")
    val blocks = blockLayout(nBlocks).toIndexedSeq
    blocks.indices.combinations(nBlocks - maxHamming).map(_.map(blocks)).toSeq
  }

  /** Near-dup pairs by SimHash Hamming distance ≤ maxHamming: multi-table
    * permuted-block equi-join candidates (see [[simhashPermutedTables]] for
    * the key-width/occupancy math), verified with an exact popcount on the
    * XOR. Output is the complete hamming ≤ maxHamming pair set — identical
    * for every valid `nBlocks`, which is why the oracle can check it with
    * the independent d+1-band pigeonhole blocking.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3, nBlocks: Int = 6): DataFrame = {
    val sh = simhash(docs)
    val tableCols = simhashPermutedTables(maxHamming, nBlocks).zipWithIndex.map {
      case (blks, t) =>
        // concatenate the key blocks into one ≤(62−d·minWidth)-bit long:
        // acc←acc·2^w + chunk stays far below 2^63 (ANSI-safe)
        val key = blks.foldLeft(lit(0L): Column) { case (acc, (off, w)) =>
          acc * lit(1L << w) +
            shiftright(col("simhash"), off).bitwiseAND(lit((1L << w) - 1))
        }
        struct(lit(t).as("tbl"), key.as("key")).as(s"t$t")
    }
    val keyed = sh.select(col("doc_id") +: col("simhash") +: tableCols: _*)
      .select(col("doc_id"), col("simhash"),
        explode(array(tableCols.indices.map(t => col(s"t$t")): _*)).as("tk"))
      .select(col("doc_id"), col("simhash"), col("tk.tbl").as("tbl"), col("tk.key").as("key"))
    keyed.as("x").join(keyed.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming) // verify BEFORE the dedup shuffle
      .distinct()
  }

  /** SimHash (62-bit) per document: per-token portable hash bits weighted
    * ±1, sign-aggregated. Near-dups have small Hamming distance.
    *
    * Shape: explode tokens → one shuffle-free partial-agg groupBy(doc_id)
    * with 62 int-sum vote columns (commutative exact sums — map-side
    * combine does most of the work), then one projection packs the sign
    * bits. 62 bits = two independent 31-bit char folds packed, the widest
    * portable hash that stays inside non-negative Long.
    */
  val SimhashBits = 62

  def simhash(docs: DataFrame): DataFrame = {
    // no spread here: the vote aggregation collapses map-side, so the
    // whole stage is one cheap partial-agg pass — measured, the
    // repartition shuffle cost more than the parallelism bought
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .withColumn("h", PortableHash.tokenHash62(col("tok")))
    val votes = (0 until SimhashBits).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$i"))
    tok.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until SimhashBits).map(i =>
          when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _).as("simhash"))
  }
}
