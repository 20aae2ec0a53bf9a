package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._
import graft.ext.{Multimodal, TextOps, VectorOps}

/** Extension operators for large-scale training-data pipelines
  * (SURVEY.md §2.11, BASELINE.json north star): deduplication (exact,
  * fingerprint, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine),
  * similarity search (brute-force cosine top-k + LSH-bucketed ANN),
  * text analysis (language-ID, quality scores, token stats), and
  * multimodal binary-column plumbing.
  *
  * Every signature here is a pure per-row Column expression built on a
  * portable hash (md5), so the DuckDB oracle recomputes each one exactly
  * (oracle SQL for the hash-heavy queries is GENERATED from the same
  * constants — seeds, band geometry, marker word lists — that the Spark
  * side uses, so the two can never drift).
  *
  * Scale notes (100 TB design intent):
  *  - signatures/fingerprints are shuffle-free map work;
  *  - dedup groupBys shuffle only (key, doc_id) pairs, never full text;
  *  - LSH turns near-dup candidate generation and ANN into equi-joins;
  *  - brute-force cosine broadcasts the small query batch, the candidate
  *    scan never shuffles; top-k per query is a bounded-state window.
  */
object Ext {

  private val K = 3            // shingle width (tokens)
  private val NumHashes = 16   // minhash signature length
  private val Bands = 4        // LSH bands (rows-per-band = 16/4 = 4)
  private val RowsPerBand = NumHashes / Bands
  private val PrIters = 3      // damped PageRank power iterations
  private val SimBands = 2     // simhash hamming-LSH bands (8 bits each)
  private val SimBandBits = 16 / SimBands
  private val Sim64Bands = 4   // 64-bit simhash bands (16 bits each)
  private val Sim64BandBits = 64 / Sim64Bands
  private val AnnBits = 4      // sign-bucket bits -> 16 buckets
  private val TopK = 10
  private val AnnK = 5
  private val NProbe = 2       // IVF cells probed per query
  private val DecontK = 5      // decontamination n-gram width (tokens)
  private val EvalMod = 17     // doc_id % EvalMod == 0 -> held-out eval set
  private val PackTarget = 64L // tokens per packed training sequence
  private val PackShards = 8   // parallel packing shards
  private val StratN = 20      // stratified sample size per language
  // PII patterns, restricted to the Java/RE2 regex-dialect intersection
  // (no lookarounds); shared verbatim with the DuckDB oracle.
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\d{3}-\\d{4,}"
  private val ChunkLen = 50    // tokens per retrieval chunk
  private val ChunkStride = 40 // chunk stride (=> 10-token overlap)
  private val TfIdfTopN = 3    // top scored terms kept per doc
  private val SparseDfCut = 50 // df-cut for the sparse similarity join
  // URL patterns, Java/RE2 dialect intersection like the PII patterns.
  private val UrlRe = "https?://[A-Za-z0-9.-]+(/[A-Za-z0-9./?=_-]*)?"
  private val HostRe = "https?://([A-Za-z0-9.-]+)"
  private val VocabTopN = 30   // vocabulary-coverage rows reported
  private val VocabSize = 20   // in-vocabulary size for the OOV gate
                               // (the synthetic corpus has 31 distinct
                               // tokens, so 20 leaves a real OOV tail)
  private val DupK = 4         // duplicated-substring n-gram width
  private val CmsD = 3         // count-min sketch depth (hash rows)
  private val CmsW = 64        // count-min sketch width (buckets per row)
  private val SemThr = 0.3     // semantic-dedup cosine cutoff (within-cell)
  private val SemTarget = 512  // semantic-dedup target bucket occupancy
  private val SemBands = 3     // scaled semantic-dedup band count (default)
  private val SemStride = 21   // band window stride (= EmbDim / SemBands)
  private val SemMaxBits = 18  // band-key width cap (compare-chain length)
  private val MmrK = 5         // MMR picks
  private val MmrLam = 0.7     // MMR relevance weight (redundancy = 0.3;
  private val MmrMu = 0.3      // kept as its OWN literal — 1 - 0.7 is
                               // 0.30000000000000004 in binary64, which
                               // would diverge from the oracle's 0.3)
  private val EmbDim = 64      // embedding width (FIXTURES.md §1)
  private val PqM = 8          // product-quantization subspaces
  private val PqSub = EmbDim / PqM // dims per PQ subspace
  private val PqIters = 3      // Lloyd rounds for the trained codebook
  private val PqProbeN = 50    // recall-gain probe width (queries)
  private val PqSweepKs = Seq(10, 32, 64) // codebook widths swept
  private val PqRefitThr = 1.5 // refit when batch MSE > thr x train MSE
  private val PqRefitDelta = 0.5 // drift-arm per-component shift
  private val BpePasses = 2    // batched-BPE passes
  private val BpeBatchN = 3    // max merges applied per batched pass
  private val BpeTopM = 16     // candidate pairs collected per pass
  private val ProjDims = 8     // JL sign-projection output width
  private val WinnowW = 4      // winnowing window (grams per window)

  /** ±1 entry (j = 0-based input dim, k = output dim) of the
    * deterministic Johnson-Lindenstrauss sign matrix: a fixed quadratic
    * integer formula, NOT a library PRNG, so the DuckDB oracle can
    * regenerate the identical matrix from the same closed form.
    */
  private def projSign(j: Int, k: Int): Double =
    if (((j * j * 13 + k * k * 7 + j * k * 3 + j * 5 + k * 11) % 17) % 2 == 0)
      1.0 else -1.0

  /** Per-doc minhash signature via the NATIVE fused expression
    * (functions.MinHashSig): the whole signature in one codegen'd
    * per-row loop — signing is map-only, NO shuffle, the same scan
    * shape as simhash16. Values are bit-identical to the HOF
    * [[TextOps.minhashSignature]] and to the earlier explode +
    * 16-way-min aggregation plan (MinHashSigSpec asserts the three-way
    * agreement), so every downstream oracle is unchanged.
    */
  private def minhashSigOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.MinHashSig(col("text"), K, NumHashes).as("sig"))

  // spec-only accessors (MinHashSigSpec cross-checks the formulations)
  private[graft] def sigOfForSpec(docs: DataFrame): DataFrame =
    minhashSigOf(docs)
  private[graft] def sigOfAggForSpec(docs: DataFrame): DataFrame =
    minhashSigAggShaped(docs)

  /** The retired aggregation-shaped signature plan (explode shingles,
    * digest once, map-side 16-way min): kept as the spec cross-check
    * for the native expression.
    */
  private[queries] def minhashSigAggShaped(docs: DataFrame): DataFrame = {
    val hashes = (0 until NumHashes).map(i =>
      ((lit(TextOps.hashA(i)) * col("v") + lit(TextOps.hashB(i)))
        % TextOps.MersennePrime).as(s"h$i"))
    val mins = (0 until NumHashes).map(i => min(col(s"h$i")).as(s"m$i"))
    docs
      .select(col("doc_id"),
        explode(TextOps.distinctShingles(col("text"), K)).as("sh"))
      .select(col("doc_id"), TextOps.hash31(col("sh")).as("v"))
      .select(col("doc_id") +: hashes: _*)
      .groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until NumHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  private def minhashSig(s: SparkSession, d: String): DataFrame =
    minhashSigOf(documents(s, d).select(col("doc_id"), col("text")))

  /** The composite quality score (alpha/stopword/token-length/duplication
    * heuristics, components rounded to 6 BEFORE weighting so the ranking
    * is cross-engine exact), carried alongside every input column — the
    * ONE score definition consumed by q_quality_score and the per-source
    * quality gate. Pure map-side.
    */
  private def qualityScored(docs: DataFrame): DataFrame =
    docs
      .withColumn("_alpha", round(TextOps.alphaRatio(col("text")), 6))
      .withColumn("_stop", round(TextOps.stopwordRatio(col("text")), 6))
      .withColumn("_mtl", round(TextOps.meanTokenLen(col("text")), 6))
      .withColumn("_dup",
        TextOps.let(TextOps.shingles(col("text"), 2)) { gs =>
          round(lit(1.0) - size(array_distinct(gs)).cast("double") / size(gs), 6)
        })
      .withColumn("score",
        round(lit(4.0) * col("_alpha")
          + lit(3.0) * least(col("_stop") * 5, lit(1.0))
          + lit(2.0) * when(col("_mtl").between(3.0, 10.0), 1.0).otherwise(0.0)
          + lit(1.0) * (lit(1.0) - col("_dup")), 6))
      .drop("_alpha", "_stop", "_mtl", "_dup")

  /** documents plus truncated copies (last 2 tokens dropped) of the
    * first 20 docs at doc_id+100000 — synthetic near-dups so the LSH
    * candidate-pair pipeline has something to find, identically
    * constructed on the oracle side.
    *
    * `base_id` carries each row's provenance STRUCTURALLY (the original
    * doc for a synthetic copy, itself otherwise): consumers that need
    * "is this the synthetic batch" or "map back to the base doc" test
    * `doc_id =!= base_id` / join on base_id instead of threshold
    * arithmetic on the +100000 id convention — a `id >= 100000` test
    * would misclassify corpora whose REAL ids reach 100000 (the 100x
    * stress corpora id replicas at r*1e9, chosen to stay clear of the
    * synthetic range, but provenance must not depend on that).
    */
  private def docsWithNearDups(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(col("doc_id"),
      col("doc_id").as("base_id"), col("text"))
    val mutated = base.filter(col("doc_id") < 20)
      .select((col("doc_id") + 100000).as("doc_id"),
        col("doc_id").as("base_id"), truncTail2(col("text")).as("text"))
    base.unionByName(mutated)
  }

  /** Drop-the-last-2-tokens mutation, mirroring the oracle's
    * array_to_string(t[1:len(t)-2], ' ') exactly INCLUDING its
    * degenerate lengths (measured in DuckDB): a 1-token list stays
    * whole (the negative end index counts from the end, so t[1:-1] is
    * the full list); len 0 or 2 slice to [], and DuckDB's
    * array_to_string([]) is NULL where Spark's array_join is '' — so
    * the empty slice maps to NULL explicitly. Spark's slice() also
    * THROWS on a negative length, so without the clamp + len=1 case
    * one sub-2-token doc would abort the whole near-dup query family
    * instead of degrading like the oracle. ExtOpsSpec pins these edge
    * lengths.
    */
  private[graft] def truncTail2(text: Column): Column =
    TextOps.let(TextOps.tokens(text)) { t =>
      TextOps.let(
        when(size(t) === 1, t)
          .otherwise(slice(t, lit(1), greatest(size(t) - 2, lit(0))))) {
        kept =>
          when(size(kept) === 0, lit(null).cast("string"))
            .otherwise(array_join(kept, " "))
      }
    }

  /** Signature array rendered as the canonical csv string (shared by the
    * digest and the oracle; Spark long and DuckDB BIGINT stringify
    * identically).
    */
  private def sigCsv(sig: org.apache.spark.sql.Column) =
    array_join(transform(sig, _.cast("string")), ",")

  /** Adjacent-pair assembly (doc i vs i+1) by double-emission, the ONE
    * implementation behind q_dedup_jaccard / q_minhash_est /
    * q_dedup_containment: each doc emits itself into its own pair slot
    * and its predecessor's, so one 2x explode and ONE shuffle on
    * pair_id assemble every pair from payloads computed once. Neither
    * of the obvious alternatives survives at scale: a shifted-key
    * self-join computes every payload twice (exchange reuse does not
    * fire across the differing id/id+1 shuffle keys), and a
    * global-order lead() window serializes all rows through one
    * partition. Input must carry a unique long `doc_id` plus the named
    * payload columns; output has `id_a`, `id_b` = id_a + 1, and each
    * payload p as `p_a` / `p_b` (boundary ids with no partner are
    * dropped by the adjacency filter).
    */
  private def adjacentPairs(df: DataFrame, payloads: String*): DataFrame = {
    def emit(pairId: Column, side: Int) =
      struct(pairId.as("pair_id") +: lit(side).as("side") +:
        col("doc_id") +: payloads.map(col): _*)
    val aggs =
      min(when(col("side") === 0, col("doc_id"))).as("id_a") +:
        min(when(col("side") === 1, col("doc_id"))).as("id_b") +:
        payloads.flatMap(p => Seq(
          first(when(col("side") === 0, col(p)), ignoreNulls = true)
            .as(s"${p}_a"),
          first(when(col("side") === 1, col(p)), ignoreNulls = true)
            .as(s"${p}_b")))
    df.select(explode(array(
        emit(col("doc_id"), 0), emit(col("doc_id") - 1, 1))).as("e"))
      .select(col("e.*"))
      .groupBy(col("pair_id"))
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("id_a").isNotNull && col("id_b") === col("id_a") + 1)
  }

  /** The COMPLETE near-dup pipeline: shingle -> minhash -> band ->
    * bucket-join producing candidate pairs -> exact-Jaccard
    * verification (>= 0.5). Candidate generation is an equi-join on
    * band_key (shuffle on the key, never all-pairs); exact Jaccard runs
    * only on candidates. Synthetic near-dups (truncated copies) make
    * the result non-empty on this corpus. Shared by q_dedup_pairs and
    * the clustering step q_dedup_clusters.
    *
    * Memoized per (session, sfDir): six queries consume this graph
    * (pairs, clusters, keep-best, both pagerank forms, leak-free split),
    * and each used to rebuild shingle->LSH->verify inline — ~10 s of
    * repeated work per suite at sf0.1. Computing the pair graph once and
    * checkpointing it is also the honest 100 TB shape: a production
    * dedup job writes the verified-pair relation to the cluster FS once
    * and every downstream consumer (clustering, representative pick,
    * centrality, split assignment) reads that table. localCheckpoint is
    * the single-JVM stand-in for that write. The memo key includes the
    * session so a checkpoint can never leak across sessions (its RDD
    * blocks die with the SparkContext).
    */
  private val pairMemo =
    new scala.collection.concurrent.TrieMap[(SparkSession, String), DataFrame]

  private def verifiedPairs(s: SparkSession, d: String): DataFrame =
    pairMemo.getOrElseUpdate((s, d), computeVerifiedPairs(s, d).localCheckpoint())

  /** Exploded (doc_id, band_key) LSH band relation of `df` — map-side
    * signing (native MinHashSig), then one generator explode.
    */
  private def bandsOf(df: DataFrame): DataFrame =
    minhashSigOf(df).select(col("doc_id"),
      explode(TextOps.lshBands(col("sig"), Bands, RowsPerBand))
        .as("band_key"))

  /** The fragmented standing band index as a snapshot table at `b`:
    * the corpus bands in 8 band-key-clustered files, then one appended
    * batch commit of the near-dup docs' bands in 1 file.
    */
  private def bandIndexFixture(s: SparkSession, d: String, b: String): Unit = {
    val all = docsWithNearDups(s, d)
    graft.sources.SnapshotTable.commitAppend(
      bandsOf(all.filter(col("doc_id") === col("base_id"))), b, "band_key", 8)
    graft.sources.SnapshotTable.commitAppend(
      bandsOf(all.filter(col("doc_id") =!= col("base_id"))), b, "band_key", 1)
  }

  /** Bare file names of data-file paths or `file:` URIs. */
  private def fileNames(paths: Array[String]): Set[String] =
    paths.map(f => new java.net.URI(f).getPath.split('/').last).toSet

  /** The STANDING corpus band index of the incremental-dedup family:
    * (doc_id, band_key) over the base corpus, built once per (session,
    * sfDir) and probed by every daily-batch query — the in-process
    * stand-in for the production index table a crawl pipeline maintains
    * on the cluster FS and reuses across days. Deliberately NOT cleared
    * by [[invalidatePairGraph]]: the stress harness measures the
    * PER-DAY probe cost (which must stay sublinear in the corpus);
    * index construction is the amortized index-maintenance job,
    * measured separately as the first-pass build (BASELINE.md records
    * both). [[invalidateCorpusIndex]] forces a cold build when that is
    * the thing being measured.
    */
  private val corpusIndexMemo =
    new scala.collection.concurrent.TrieMap[(SparkSession, String), DataFrame]

  private def corpusBandIndex(s: SparkSession, d: String): DataFrame =
    corpusIndexMemo.getOrElseUpdate((s, d),
      bandsOf(docsWithNearDups(s, d)
        .filter(col("doc_id") === col("base_id"))).localCheckpoint())

  /** The daily incremental cross-source accounting against a standing
    * corpus band index `idx` (memoized or persisted — the two gated
    * forms must agree): batch bands broadcast against the index, exact
    * -Jaccard verify over semi-join-pruned collided docs only, then
    * the per-(source, source) pair reduction. Per-day cost scales with
    * the batch, never the corpus.
    */
  private def incrementalCrossAccounting(s: SparkSession, d: String,
      idx: DataFrame): DataFrame = {
    val all = docsWithNearDups(s, d)
    val batch = all.filter(col("doc_id") =!= col("base_id"))
    val cand = idx.as("c")
      .join(broadcast(bandsOf(batch).as("b")),
        col("c.band_key") === col("b.band_key"))
      .select(col("b.doc_id").as("new_id"), col("c.doc_id").as("match_id"))
      .distinct()
    val shNew = batch.select(col("doc_id").as("new_id"),
      TextOps.distinctShingles(col("text"), K).as("sh_n"))
    val matchedCorpus = all.filter(col("doc_id") === col("base_id"))
      .join(broadcast(cand.select(col("match_id").as("doc_id")).distinct()),
        Seq("doc_id"), "left_semi")
    val shMatch = matchedCorpus.select(col("doc_id").as("match_id"),
      TextOps.distinctShingles(col("text"), K).as("sh_m"))
    val verified = cand
      .join(broadcast(shNew), Seq("new_id"))
      .join(shMatch, Seq("match_id"))
      .filter(round(
        size(array_intersect(col("sh_n"), col("sh_m"))).cast("double")
          / size(array_union(col("sh_n"), col("sh_m"))), 6) >= 0.5)
      .select(col("new_id"), col("match_id"))
    val src = documents(s, d).select(col("doc_id"), col("source"))
    val pairs = verified
      .join(broadcast(batch.select(col("doc_id").as("new_id"),
        col("base_id"))), Seq("new_id"))
      .select(col("base_id"), col("match_id"))
    val withSa = src.select(col("doc_id").as("base_id"),
        col("source").as("sa"))
      .join(broadcast(pairs), Seq("base_id"))
    src.select(col("doc_id").as("match_id"), col("source").as("sb"))
      .join(broadcast(withSa), Seq("match_id"))
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("src_a"), col("src_b"))
  }

  private[graft] def invalidateCorpusIndex(): Unit = {
    corpusIndexMemo.values.foreach(_.unpersist(blocking = false))
    corpusIndexMemo.clear()
  }

  /** Stress-harness hook: drop every memoized pair graph so a timed pass
    * measures the full shingle->LSH->verify build, not a cache hit —
    * ScaleStress invalidates before each pass, otherwise the scaling
    * exponents of the pair family would measure graph CONSUMPTION only.
    */
  private[graft] def invalidatePairGraph(): Unit = {
    // unpersist the evicted checkpoints eagerly: dropping only the map
    // entry strands their BlockManager blocks until the ContextCleaner
    // happens to GC them, and ScaleStress invalidates before every timed
    // pass — stranded blocks would accumulate during the passes meant to
    // be cache-honest (and the map would pin SparkSessions via strong refs)
    pairMemo.values.foreach(_.unpersist(blocking = false))
    pairMemo.clear()
  }

  private def computeVerifiedPairs(s: SparkSession, d: String): DataFrame = {
    val docs = docsWithNearDups(s, d)
    val bands = minhashSigOf(docs).select(col("doc_id"),
      explode(TextOps.lshBands(col("sig"), Bands, RowsPerBand))
        .as("band_key"))
    // materialize the banded signatures BEFORE the self-join: the plain
    // self-join recomputes the signature aggregation per side (exchange
    // reuse does not fire across the differing join projections), which
    // doubles the expensive part of the pipeline. Checkpointing is
    // exactly what a production LSH job does — write the (doc, band)
    // relation once, then candidate-join it against itself. (A
    // bucket-local collect_list + pair comprehension was measured ~25%
    // SLOWER here: interpreted per-pair lambdas lose to the codegen'd
    // join even with the agg deduplicated.) localCheckpoint is the
    // single-JVM form; a cluster deployment writes the band relation to
    // the cluster FS (reliable checkpoint / a real LSH index table) so
    // an executor loss recomputes nothing.
    val bandsMat = bands.localCheckpoint()
    val pairs = bandsMat.as("a")
      .join(bandsMat.as("b"),
        col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val sh = docs.select(col("doc_id"),
      TextOps.distinctShingles(col("text"), K).as("sh"))
    pairs
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")),
        Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(size(array_intersect(col("sh_a"), col("sh_b")))
          .cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  /** Scored (vector, rep-cell) relation behind the IVF quantizer,
    * shared by [[ivfAssign]] and the nprobe probe list: reps = min
    * vec_id per label (broadcast — they are few), every vector scored
    * against every rep, `cell_rn` ranking the cells per vector (1 =
    * best). One broadcast join + one per-vector bounded window;
    * vectors never shuffle by cell here. Kept as the ONE quantizer
    * definition so the index the queries build and the cells the
    * nprobe variant probes can never drift apart.
    */
  /** Greedy BPE trainer core shared by q_bpe_merges (emits the merge
    * table) and q_bpe_encode (emits the encoded word-type relation):
    * word-TYPE frequencies -> per-word symbol stream -> up to `rounds`
    * (pick top pair, apply) steps, the application done with windows
    * (gaps-and-islands greedy-leftmost) because replace() overlap
    * semantics are engine-specific. Everything runs on the VOCABULARY
    * relation — Heaps-law sub-linear in corpus size, never the token
    * stream — which is why BPE training stays feasible at 100 TB.
    * Returns (picked merges in round order, final symbol relation;
    * `applyLast` controls whether the last pick is applied to it).
    */
  private def bpeTrain(s: SparkSession, d: String, rounds: Int,
      applyLast: Boolean): (List[(Long, String, String, Long)], DataFrame) = {
    val wOrd = Window.partitionBy(col("w")).orderBy(col("pos"))
    // \z, not $: Java's $ matches before a final line terminator, so
    // a token like "ab\n" would pass here but fail the oracle's RE2 $
    // (absolute end) — a latent engine divergence on any corpus with
    // trailing-newline tokens
    val words = documents(s, d)
      .select(explode(TextOps.tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z]{2,12}\\z"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    // split(w, "") under Spark's limit=-1 regex emits a trailing ""
    var syms = words
      .select(col("w"), col("freq"),
        posexplode(split(col("w"), "")).as(Seq("pos", "sym")))
      .filter(col("sym") =!= "")
      .localCheckpoint()
    var merges = List.empty[(Long, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val withNxt = syms.withColumn("nxt", lead(col("sym"), 1).over(wOrd))
      val top = withNxt.filter(col("nxt").isNotNull)
        .groupBy(col("sym"), col("nxt")).agg(sum(col("freq")).as("wt"))
        .orderBy(col("wt").desc, col("sym"), col("nxt")).limit(1)
        .collect()
      if (top.isEmpty) {
        // no adjacent pairs left (degenerate corpus): the oracle's
        // LIMIT 1 CTEs go empty from this round on, so stop emitting
        // rather than crash on collect()(0)
        exhausted = true
      } else {
        val (a, b, wt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges ::= ((r.toLong, a, b, wt))
        if (r < rounds || applyLast) {
          val t = withNxt
            .withColumn("m", coalesce(
              col("sym") === a && col("nxt") === b, lit(false)))
            .withColumn("isl", col("pos") -
              sum(when(col("m"), 1).otherwise(0))
                .over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
            .withColumn("merged", col("m") &&
              (col("pos") - min(col("pos"))
                .over(Window.partitionBy(col("w"), col("m"), col("isl"))))
                % 2 === 0)
            .withColumn("kept",
              !coalesce(lag(col("merged"), 1).over(wOrd), lit(false)))
          syms = t.filter(col("kept"))
            .select(col("w"), col("freq"),
              (row_number().over(wOrd) - 1).as("pos"),
              when(col("merged"), concat(col("sym"), col("nxt")))
                .otherwise(col("sym")).as("sym"))
            .localCheckpoint()
        }
        r += 1
      }
    }
    (merges.reverse, syms)
  }

  /** BATCHED BPE trainer — the production-vocab form of [[bpeTrain]]:
    * one pair-count job per PASS instead of per MERGE. Each pass
    * collects the top-`topM` pairs (wt desc, lexicographic ties), keeps
    * the CONSERVATIVE mutually-disjoint prefix — a candidate survives
    * iff NO higher-ranked candidate (selected or not) shares a symbol
    * with it, a rule expressible as a bounded anti-join in both engines
    * (greedy take-if-free needs recursion; this stricter rule never
    * selects fewer than one pair, so progress is guaranteed) — and
    * applies up to `batchN` survivors in ONE windows pass. Disjointness
    * makes the batch apply exact: a merge can neither destroy nor
    * create an instance of a co-selected pair (shared-symbol overlaps
    * are excluded; new adjacencies involve the NEW symbol), and
    * consecutive matched positions can only come from one self-pair
    * run, so the single-boolean gaps-and-islands apply is unchanged.
    * Driver cost: jobs-per-merge drops from 1 toward 1/batchN — the
    * bound that matters at a 32k-merge production vocabulary, where
    * the sequential trainer's 32k-job driver loop is the ceiling
    * (BASELINE.md documents both). Candidate collect is <= topM rows
    * (the sanctioned bounded collect).
    */
  private def bpeTrainBatched(s: SparkSession, d: String, passes: Int,
      batchN: Int, topM: Int): List[(Long, String, String, Long)] = {
    val wOrd = Window.partitionBy(col("w")).orderBy(col("pos"))
    val words = documents(s, d)
      .select(explode(TextOps.tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z]{2,12}\\z"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    var syms = words
      .select(col("w"), col("freq"),
        posexplode(split(col("w"), "")).as(Seq("pos", "sym")))
      .filter(col("sym") =!= "")
      .localCheckpoint()
    var merges = List.empty[(Long, String, String, Long)]
    var round = 1L
    var p = 1
    var exhausted = false
    while (p <= passes && !exhausted) {
      val withNxt = syms.withColumn("nxt", lead(col("sym"), 1).over(wOrd))
      val cands = withNxt.filter(col("nxt").isNotNull)
        .groupBy(col("sym"), col("nxt")).agg(sum(col("freq")).as("wt"))
        .orderBy(col("wt").desc, col("sym"), col("nxt")).limit(topM)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (cands.isEmpty) exhausted = true
      else {
        val sel = cands.zipWithIndex.filter { case ((a, b, _), i) =>
          cands.take(i).forall { case (ha, hb, _) =>
            ha != a && ha != b && hb != a && hb != b }
        }.map(_._1).take(batchN)
        sel.foreach { case (a, b, wt) =>
          merges ::= ((round, a, b, wt)); round += 1 }
        if (p < passes) {
          val m0 = sel.map { case (a, b, _) =>
            col("sym") === a && col("nxt") === b }.reduce(_ || _)
          val t = withNxt
            .withColumn("m", coalesce(m0, lit(false)))
            .withColumn("isl", col("pos") -
              sum(when(col("m"), 1).otherwise(0))
                .over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
            .withColumn("merged", col("m") &&
              (col("pos") - min(col("pos"))
                .over(Window.partitionBy(col("w"), col("m"), col("isl"))))
                % 2 === 0)
            .withColumn("kept",
              !coalesce(lag(col("merged"), 1).over(wOrd), lit(false)))
          syms = t.filter(col("kept"))
            .select(col("w"), col("freq"),
              (row_number().over(wOrd) - 1).as("pos"),
              when(col("merged"), concat(col("sym"), col("nxt")))
                .otherwise(col("sym")).as("sym"))
            .localCheckpoint()
        }
        p += 1
      }
    }
    merges.reverse
  }

  /** Test hooks: the persisted-index PROBE DataFrames, pre-checkpoint —
    * the gated queries materialize their probes eagerly (so results
    * can't depend on file-listing snapshot semantics across the
    * maintenance append), which collapses the executed plan to a Scan
    * ExistingRDD; PlanAuditSpec audits the probe JOIN SHAPE on these
    * instead. Callers must run the corresponding gated query first so
    * the on-disk artifacts exist.
    */
  private[graft] def pqPersistedProbeForTest(s: SparkSession,
      d: String): DataFrame = {
    val dir = Relational.rtDir("pqidx", d)
    val s2 = s.newSession()
    pqAdcProbe(s2, d, s2.read.parquet(s"$dir/book"),
      s2.read.parquet(s"$dir/codes"))
  }

  private[graft] def semanticPersistedProbeForTest(s: SparkSession,
      d: String): DataFrame = {
    val dir = Relational.rtDir("sidx", d)
    val s2 = s.newSession()
    semanticBatchProbe(s2.read.parquet(s"$dir/bands"),
      semanticBatchBanded(s2, d, s2.read.parquet(s"$dir/bits"),
        s2.read.parquet(s"$dir/reps")))
  }

  /** Test hook: the sequential trainer's merge list (CurationOpsSpec
    * compares batched == sequential on a corpus where they provably
    * coincide).
    */
  private[graft] def bpeMergesSequentialForTest(s: SparkSession, d: String,
      rounds: Int): List[(Long, String, String, Long)] =
    bpeTrain(s, d, rounds, applyLast = false)._1

  // ---- product quantization (IVF-PQ's compression half) ----------------

  /** Squared-L2 distance between subvectors j of `a` and `b` (PqSub
    * dims starting at j*PqSub), as ONE left-associated sum of squared
    * differences — a fixed expression shape the DuckDB oracle
    * reproduces term for term, so the float result is bit-identical
    * (FP addition is non-associative; a different grouping could flip
    * a rank at a round boundary).
    */
  private def pqSubDist(a: Column, b: Column, j: Int): Column =
    (0 until PqSub).map { i =>
      val idx = j * PqSub + i + 1
      val diff = element_at(a, idx) - element_at(b, idx)
      diff * diff
    }.reduce(_ + _)

  /** The PQ codebook: one codeword per label per subspace, taken from
    * the deterministic label-medoid reps (min vec_id per label) — the
    * same quantizer family as the IVF cells. In production the
    * codebooks come from per-subspace k-means (ops.KMeansFit is the
    * trainer); the medoid codebook keeps the assignment closed-form so
    * the oracle can replay it exactly.
    */
  private def pqReps(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"), col("label"),
      VectorOps.toDouble(col("embedding")).as("v"))
    e.groupBy(col("label")).agg(min(col("vec_id")).as("rep_id"))
      .join(e.select(col("vec_id").as("rep_id"), col("v").as("rv")),
        Seq("rep_id"))
      .select(col("rep_id"), col("rv"))
  }

  /** PQ encode: per vector, the argmin codeword per subspace by
    * (squared-L2, rep_id). ONE broadcast cross join with the K-row
    * codebook and ONE aggregation — the argmin rides min(struct(dist,
    * rep_id)) so all 8 subspaces resolve in a single map-side-combined
    * pass; the corpus never shuffles more than its (vec_id, 8 codes)
    * projection. Codes are 8 small ids per vector — the 64-float
    * embedding compressed ~32x, which is what makes 100 TB ANN
    * storage/scan costs workable.
    */
  private def pqAssign(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"),
      VectorOps.toDouble(col("embedding")).as("v"))
    val aggs = (0 until PqM).map(j =>
      min(struct(pqSubDist(col("v"), col("rv"), j).as("d"),
        col("rep_id").as("r"))).getField("r").as(s"code_$j"))
    e.crossJoin(broadcast(pqReps(s, d)))
      .groupBy(col("vec_id"))
      .agg(aggs.head, aggs.tail: _*)
  }

  // ---- trained PQ codebooks (per-subspace Lloyd) -----------------------
  //
  // The medoid codebook above is the closed-form oracle ANCHOR; the
  // production quantizer (Jégou et al. 2011 trains per-subspace
  // k-means) is this one: the SAME K codewords per subspace, REFINED by
  // `PqIters` Lloyd rounds warm-started from the medoids — same code
  // budget, materially lower quantization error, and still exactly
  // oracle-replayable because the iteration count is fixed and every
  // step is deterministic (argmin ties by cid; DECIMAL(18,9) component
  // sums make the M-step addition-order-free, the q_kmeans_step /
  // ops.KMeansFit discipline). All 8 subspaces train in ONE DataFrame
  // per round — the E-step is a broadcast join on the subspace id (the
  // corpus scan never shuffles more than its (vec_id, j, 8-dim
  // subvector) projection), the M-step one (j, cid)-keyed aggregation —
  // so a 100 TB fit costs PqIters scans regardless of PqM.

  private def pqSubDist8(prefix: String): Column =
    (1 to PqSub).map { i =>
      val diff = col(s"${prefix}s$i") - col(s"c$i")
      diff * diff
    }.reduce(_ + _)

  /** Long-form subvectors: one row per (vec_id, subspace j) with the
    * PqSub components as scalar columns s1..sPqSub — the shape that
    * lets the E-step argmin and M-step means run as plain columnar
    * aggregations with no per-dimension explosion.
    */
  private def pqSubPoints(e: DataFrame): DataFrame = {
    val subs = array((0 until PqM).map(j =>
      struct(lit(j).as("j") +: (1 to PqSub).map(i =>
        element_at(col("v"), j * PqSub + i).as(s"s$i")): _*)): _*)
    e.select(col("vec_id"), explode(subs).as("u"))
      .select(col("vec_id") +: col("u.j").as("j") +:
        (1 to PqSub).map(i => col(s"u.s$i").as(s"s$i")): _*)
  }

  /** The trained codebook: medoid-initialized, `PqIters` Lloyd rounds.
    * Returns (j, cid, c1..cPqSub). A cluster that captures zero points
    * in a round keeps its previous codeword (standard Lloyd handling,
    * the ops.KMeansFit rule) — without the join-back a codeword would
    * silently vanish and shrink the code budget.
    */
  /** The medoid codebook in long (j, cid, c1..cPqSub) form — the
    * trained book's init and the distortion readout's baseline.
    */
  private def pqMedoidBook(s: SparkSession, d: String): DataFrame =
    pqSubPoints(pqReps(s, d)
        .select(col("rep_id").as("vec_id"), col("rv").as("v")))
      .select(col("j") +: col("vec_id").as("cid") +:
        (1 to PqSub).map(i => col(s"s$i").as(s"c$i")): _*)

  /** Memoized per (session, sfDir), the [[pairMemo]] pattern: SIX gated
    * queries consume the trained book (train, adc, ivf_adc, recall,
    * distortion, recall_gain) and four the codes, and each used to
    * re-run the full Lloyd fit inline — ~25 s of repeated work per
    * suite at sf0.1, five of the seven most expensive queries.
    * Training once per corpus and checkpointing is also the honest
    * production shape: a quantizer is FIT once, WRITTEN once, and
    * every probe path reads the artifact (q_pq_index_persist gates
    * exactly that round-trip). ScaleStress invalidates per pass so
    * scaling passes still pay the full fit.
    */
  private val pqBookMemo =
    new scala.collection.concurrent.TrieMap[(SparkSession, String), DataFrame]
  private val pqCodesMemo =
    new scala.collection.concurrent.TrieMap[(SparkSession, String), DataFrame]

  private def pqTrainedBook(s: SparkSession, d: String): DataFrame =
    pqBookMemo.getOrElseUpdate((s, d), computePqTrainedBook(s, d))

  /** Trained-book PQ codes of the corpus, memoized like the book (the
    * persisted index's second artifact: book = codewords, codes = the
    * compressed corpus).
    */
  private def pqTrainedCodes(s: SparkSession, d: String): DataFrame =
    pqCodesMemo.getOrElseUpdate((s, d),
      pqAssignTrained(s, d, pqTrainedBook(s, d)).localCheckpoint())

  private[graft] def invalidatePqTrained(): Unit = {
    pqCodesMemo.values.foreach(_.unpersist(blocking = false))
    pqCodesMemo.clear()
    pqBookMemo.values.foreach(_.unpersist(blocking = false))
    pqBookMemo.clear()
  }

  private def computePqTrainedBook(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"),
      VectorOps.toDouble(col("embedding")).as("v"))
    pqLloyd(pqSubPoints(e).localCheckpoint(), pqMedoidBook(s, d))
  }

  /** `PqIters` Lloyd rounds over long-form subvectors `sub` from an
    * arbitrary `init` codebook — the fit shared by the production
    * (medoid-init) book and the K-sweep's width-k inits. The kw-keyed
    * multi form with one constant width.
    */
  private def pqLloyd(sub: DataFrame, init: DataFrame): DataFrame =
    pqLloydMulti(sub, init.withColumn("kw", lit(0))).drop("kw")

  /** [[pqLloyd]] over MULTIPLE codebooks at once: `init` carries a
    * `kw` width key and every E/M step is keyed by (kw, …), so the
    * whole recall-vs-K sweep trains in PqIters rounds of two
    * aggregations — |Ks| sequential fits would pay the fixed per-round
    * job overhead |Ks| times for byte-identical results (each (kw, j,
    * cid) group's decimal sums and cid-tie argmins are untouched by
    * the extra key). Measured: the 3-width sweep dropped 10.6 s → one
    * fused chain at sf0.1.
    */
  private def pqLloydMulti(sub: DataFrame, init: DataFrame): DataFrame = {
    val s = sub.sparkSession
    val schema = org.apache.spark.sql.types.StructType(
      Seq(org.apache.spark.sql.types.StructField("kw",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("j",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("cid",
          org.apache.spark.sql.types.LongType)) ++
      (1 to PqSub).map(i => org.apache.spark.sql.types.StructField(s"c$i",
        org.apache.spark.sql.types.DoubleType)))
    // the book lives DRIVER-SIDE between rounds: it is (sum of widths)
    // x PqM rows BY CONSTRUCTION — the same size class every consumer
    // broadcasts anyway — so each round is ONE action (the fused
    // E-step argmin + M-step decimal means), and the join-back/
    // checkpoint machinery of a distributed book (2 extra jobs per
    // round) disappears. Values are bit-identical: doubles round-trip
    // a collect exactly, the empty-cluster keep is the None arm, and
    // the grouped decimal sums are unchanged.
    var book: Array[org.apache.spark.sql.Row] = init.select(
      col("kw").cast("int").as("kw") +: col("j").cast("int").as("j") +:
        col("cid").cast("long").as("cid") +:
        (1 to PqSub).map(i => col(s"c$i").cast("double").as(s"c$i")): _*)
      .collect()
    def bookDf: DataFrame = s.createDataFrame(
      java.util.Arrays.asList(book: _*), schema)
    // (Measured, stands: an E-step argmin as a map-side expression over
    // LITERAL codewords — the KMeansFit move — regressed this loop 7x
    // at the sweep's widths: Σ widths x PqM x PqSub unrolled scalar
    // terms fall out of whole-stage codegen. The broadcast join keeps
    // the argmin inside a compact generated loop; see OPTIMIZATION_r17.)
    for (_ <- 1 to PqIters) {
      val assigned = sub.join(broadcast(bookDf), Seq("j"))
        .groupBy(col("kw"), col("vec_id"), col("j"))
        .agg(min(struct(pqSubDist8("").as("d"), col("cid").as("c")))
            .getField("c").as("cid"),
          (1 to PqSub).map(i => first(col(s"s$i")).as(s"s$i")): _*)
      val next = assigned.groupBy(col("kw"), col("j"), col("cid"))
        .agg((sum(col("s1").cast(DecimalType(18, 9))).cast("double") /
            count(lit(1))).as("c1"),
          (2 to PqSub).map(i =>
            (sum(col(s"s$i").cast(DecimalType(18, 9))).cast("double") /
              count(lit(1))).as(s"c$i")): _*)
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)) ->
          (3 until 3 + PqSub).map(r.getDouble))
        .toMap
      book = book.map { r =>
        next.get((r.getInt(0), r.getInt(1), r.getLong(2))) match {
          // key columns reuse the row's own boxed values: a rebuilt
          // Seq(getInt, getInt, getLong) weak-conforms to Seq[Long]
          // and would silently widen kw/j out of their int slots
          case Some(ms) => org.apache.spark.sql.Row.fromSeq(
            r.toSeq.take(3) ++ ms)
          case None => r // empty cluster keeps its previous codeword
        }
      }
    }
    bookDf
  }

  /** Width-k init codebook: the first k vectors' subvectors as the
    * initial codewords per subspace — the deterministic init the
    * recall-vs-K sweep trains from (the label-medoid init is pinned to
    * |labels| codewords; a budget sweep needs arbitrary K).
    */
  private def pqInitBook(s: SparkSession, d: String, k: Int): DataFrame =
    pqSubPoints(embeddings(s, d)
        .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
        .filter(col("vec_id") < k))
      .select(col("j") +: col("vec_id").as("cid") +:
        (1 to PqSub).map(i => col(s"s$i").as(s"c$i")): _*)

  /** PQ encode of an arbitrary (vec_id, v) relation against a FROZEN
    * codebook: long-form argmin per (vec_id, subspace), pivoted to the
    * wide codes row by a fixed conditional aggregation (one shuffle on
    * vec_id). Shared by the corpus encode and the persisted index's
    * daily maintenance append (a batch encodes against the book as
    * written — never a refit).
    */
  private def pqEncode(vecs: DataFrame, book: DataFrame): DataFrame =
    pqEncodeSub(pqSubPoints(vecs), book)

  /** [[pqEncode]] over an ALREADY long-form (vec_id, j, s1..s8)
    * subvector relation — the form the refit gate holds its batches
    * in, so a batch never round-trips through the wide array shape.
    * Two stages on purpose: fusing argmin+pivot into one per-vec_id
    * aggregation puts PqM struct-typed min(when(...)) buffers in the
    * aggregate, which degrades sharply as the book widens (the
    * codebook sweep's width-keyed twin measured 8.4 -> 15.5 s fused);
    * at this book width the shapes measured within noise, so the
    * single-struct-buffer argmin + long-typed pivot is kept uniformly.
    */
  private def pqEncodeSub(subPts: DataFrame, book: DataFrame): DataFrame = {
    val long = subPts.join(broadcast(book), Seq("j"))
      .groupBy(col("vec_id"), col("j"))
      .agg(min(struct(pqSubDist8("").as("d"), col("cid").as("c")))
        .getField("c").as("cid"))
    val pivots = (0 until PqM).map(j =>
      max(when(col("j") === j, col("cid"))).as(s"code_$j"))
    long.groupBy(col("vec_id")).agg(pivots.head, pivots.tail: _*)
  }

  /** Total quantization MSE of long-form subvectors against a codebook,
    * as ONE rounded double: mean over all (vec_id, j) of the squared
    * distance to the NEAREST codeword — the q_pq_distortion readout
    * collapsed across subspaces (same discipline: d2 pre-rounded to 6
    * decimals and summed in DECIMAL(18,6), so the mean is
    * addition-order-free; the final round(·,6) is the value the refit
    * DECISION compares, in Spark so both engines round identically).
    * One broadcast join + two aggregations — PqIters-free, scales as a
    * single corpus scan.
    */
  private def pqMseTotal(sub: DataFrame, book: DataFrame): Double =
    sub.join(broadcast(book), Seq("j"))
      .groupBy(col("vec_id"), col("j"))
      .agg(min(pqSubDist8("")).as("d2"))
      .agg(round(sum(round(col("d2"), 6).cast(DecimalType(18, 6)))
        .cast("double") / count(lit(1)), 6).as("m"))
      .head.getDouble(0)

  /** The (decimal sum, count) components of [[pqMseTotal]] for SEVERAL
    * disjoint-keyed relations in ONE job, keyed by a `_g` tag column —
    * per-tag values identical to running pqMseTotal's first two
    * aggregations per relation (the (vec_id, j) argmin groups are
    * untouched by the extra key), and because the decimal sums are
    * exact, tag sums ADD to the union's sum, so a consumer derives the
    * mixed-relation MSE without a second corpus-scale job.
    */
  private def pqMseSums(tagged: DataFrame, book: DataFrame)
      : Map[Int, (java.math.BigDecimal, Long)] =
    tagged.join(broadcast(book), Seq("j"))
      .groupBy(col("_g"), col("vec_id"), col("j"))
      .agg(min(pqSubDist8("")).as("d2"))
      .groupBy(col("_g"))
      .agg(sum(round(col("d2"), 6).cast(DecimalType(18, 6))).as("s"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => r.getInt(0) -> (r.getDecimal(1), r.getLong(2))).toMap

  /** Driver-side twin of [[pqMseTotal]]'s final expression — EXACTLY
    * Spark's round(sum.cast(double)/count, 6): decimal→double via
    * BigDecimal.doubleValue (Decimal.toDouble's path), double
    * division, then Catalyst Round's HALF_UP setScale over the
    * decimal-string form of the double. Bit-exact by construction, so
    * MSEs combined from per-relation decimal sums hash-match the
    * single-relation jobs they replace (the oracle recomputes the same
    * values independently — "close" would fail the gate).
    */
  private def pqMseOf(s: java.math.BigDecimal, n: Long): Double =
    java.math.BigDecimal.valueOf(s.doubleValue / n)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  private def pqAssignTrained(s: SparkSession, d: String,
      book: DataFrame): DataFrame =
    pqEncode(embeddings(s, d).select(col("vec_id"),
      VectorOps.toDouble(col("embedding")).as("v")), book)

  /** Squared-L2 between subvector j of full-width `a` and a LOCAL
    * PqSub-wide codeword array `w` — the trained-ADC reconstruction
    * term, same left-associated shape as [[pqSubDist]].
    */
  private def pqSubDistLocal(a: Column, w: Column, j: Int): Column =
    (0 until PqSub).map { i =>
      val diff = element_at(a, j * PqSub + i + 1) - element_at(w, i + 1)
      diff * diff
    }.reduce(_ + _)

  /** Trained-ADC top-k probe (the q_pq_adc plan shape with the trained
    * codebook): codes join their codeword subvectors via PqM broadcast
    * joins against the K-row per-subspace books; the codes scan never
    * shuffles.
    */
  private def pqAdcTrained(s: SparkSession, d: String): DataFrame =
    pqAdcProbe(s, d, pqTrainedBook(s, d), pqTrainedCodes(s, d))

  /** The trained-ADC probe against EXPLICIT (book, codes) relations —
    * shared by the memoized form above and the persisted-index probe
    * (q_pq_index_persist), which must produce identical top-k from the
    * disk round-tripped artifacts.
    */
  private def pqAdcProbe(s: SparkSession, d: String, book: DataFrame,
      codes: DataFrame): DataFrame = {
    val withWords = (0 until PqM).foldLeft(codes) { (df, j) =>
      df.join(broadcast(book.filter(col("j") === j)
        .select(col("cid").as(s"code_$j"),
          array((1 to PqSub).map(i => col(s"c$i")): _*).as(s"w_$j"))),
        Seq(s"code_$j"))
    }
    val e = embeddings(s, d).select(col("vec_id"),
      VectorOps.toDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val adc = (0 until PqM).map(j =>
      pqSubDistLocal(col("qv"), col(s"w_$j"), j)).reduce(_ + _)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc"), col("vec_id"))
    withWords.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), adc.as("adc"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= AnnK)
      .select(col("q_id"), col("rn"), col("vec_id"),
        round(col("adc"), 6).as("adc"))
      .orderBy(col("q_id"), col("rn"))
  }

  private def ivfScoredCells(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"), col("label"),
      VectorOps.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", VectorOps.norm(col("v")))
    val reps = e.groupBy(col("label")).agg(min(col("vec_id")).as("rep_id"))
      .join(e.select(col("vec_id").as("rep_id"), col("v").as("rv"),
        col("nrm").as("rn_")), Seq("rep_id"))
      .select(col("rep_id"), col("rv"), col("rn_"))
    val wCell = Window.partitionBy(col("vec_id"))
      .orderBy(col("rep_score").desc, col("rep_id"))
    e.join(broadcast(reps))
      .select(col("vec_id"), col("v"), col("nrm"),
        col("rep_id"),
        (VectorOps.dot(col("v"), col("rv")) / (col("nrm") * col("rn_")))
          .as("rep_score"))
      .withColumn("cell_rn", row_number().over(wCell))
  }

  /** Best-cell assignment from [[ivfScoredCells]]: every vector in its
    * top-scoring rep's cell.
    */
  private def ivfCells(scored: DataFrame): DataFrame =
    scored.filter(col("cell_rn") === 1)
      .select(col("vec_id"), col("v"), col("nrm"),
        col("rep_id").as("cell"))

  /** Deterministic medoid quantizer shared by the IVF ANN family and
    * semantic dedup (see [[ivfScoredCells]] for the plan shape).
    */
  private def ivfAssign(s: SparkSession, d: String): DataFrame =
    ivfCells(ivfScoredCells(s, d))

  /** [[ivfAssign]] memoized per (session, sfDir) — the [[pairMemo]]
    * pattern: a dozen semantic/IVF gates open on the same deterministic
    * medoid assignment (a broadcast join + per-vector window over the
    * embeddings) and each used to recompute it inline. Checkpointed
    * once per suite; ScaleStress invalidates per pass so scaling runs
    * still price the full assignment.
    */
  private val ivfAssignMemo =
    new scala.collection.concurrent.TrieMap[(SparkSession, String), DataFrame]

  private def ivfAssignCk(s: SparkSession, d: String): DataFrame =
    ivfAssignMemo.getOrElseUpdate((s, d),
      ivfAssign(s, d).localCheckpoint())

  private[graft] def invalidateIvfAssign(): Unit = {
    ivfAssignMemo.values.foreach(_.unpersist(blocking = false))
    ivfAssignMemo.clear()
  }

  /** embeddings plus ε-shifted copies of the first 20 vectors at
    * vec_id+1000000 — the synthetic "today's batch" for the incremental
    * semantic-dedup form, mirrored exactly by the oracle (shift applied
    * in DOUBLE space after the cast, so both engines mutate identical
    * values). base_id carries provenance structurally, like
    * docsWithNearDups.
    */
  private def vecsWithNearDups(s: SparkSession, d: String): DataFrame = {
    val base = embeddings(s, d).select(col("vec_id"),
      col("vec_id").as("base_id"), col("label"),
      VectorOps.toDouble(col("embedding")).as("v"))
    val mutated = base.filter(col("vec_id") < 20)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        col("vec_id").as("base_id"), col("label"),
        transform(col("v"), x => x + lit(0.001)).as("v"))
    base.unionByName(mutated)
  }

  /** Exact within-cell semantic-dedup dropped set (distinct vec_ids with
    * a lower-id cosine>=SemThr neighbor in the SAME cell) — the
    * semantics reference the scaled/banded variants are audited against.
    */
  private def semanticExactDropped(assigned: DataFrame): DataFrame = {
    val a = assigned.select(col("cell").as("cell_a"),
      col("vec_id").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a"))
    assigned.join(a,
        col("cell") === col("cell_a") && col("id_a") < col("vec_id") &&
          VectorOps.dot(col("v"), col("v_a")) / (col("nrm") * col("n_a"))
            >= SemThr)
      .select(col("vec_id")).distinct()
  }

  /** Band-bucketed (adaptive-occupancy) semantic-dedup dropped set,
    * parameterized by band geometry — the recall knob. Within each cell,
    * candidates are restricted to sign-LSH band buckets whose key WIDTH
    * adapts to the corpus: bits = ceil(log2(ceil(n/SemTarget))) computed
    * as an integer compare-chain capped at `maxBits` (never a libm log2,
    * whose 1-ulp error at power-of-two boundaries could diverge between
    * engines). Expected occupancy per (cell, band, key) bucket is
    * ~constant in n, so pair work grows linearly where the exact variant
    * grows quadratically; each of the `bands` windows (starting at
    * j*stride) is an independent collision chance — the minhash-LSH
    * recall move. n <= SemTarget degenerates to bits=0 (one bucket per
    * band = the exact within-cell semantics).
    *
    * The layout must FIT the vector: Spark's slice CLAMPS past the
    * array end while DuckDB's v[i] yields NULL -> '0', so an oversized
    * layout would silently hash-diverge instead of failing. The 1-row
    * bits relation therefore raises a runtime error unless
    * dim >= (bands-1)*stride + maxBits.
    */
  private def semanticScaledDropped(assigned: DataFrame, bands: Int,
      stride: Int, maxBits: Int): DataFrame = {
    val banded = semanticBandify(assigned,
      semanticBitsRow(assigned, bands, stride, maxBits), bands, stride)
    val a = banded.select(col("band").as("band_a"),
      col("cell").as("cell_a"), col("key").as("key_a"),
      col("vec_id").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a"))
    banded.join(a,
        col("cell") === col("cell_a") && col("band") === col("band_a") &&
          col("key") === col("key_a") && col("id_a") < col("vec_id") &&
          VectorOps.dot(col("v"), col("v_a")) / (col("nrm") * col("n_a"))
            >= SemThr)
      .select(col("vec_id")).distinct()
  }

  /** The 1-row adaptive key-width relation: bits =
    * ceil(log2(ceil(n/SemTarget))) over `counted`'s row count, capped at
    * maxBits, with the loud dim guard. Split out so the INCREMENTAL
    * form can derive bits from the STANDING CORPUS while banding the
    * daily batch with the same width (an index property, not a per-batch
    * recomputation).
    */
  private def semanticBitsRow(counted: DataFrame, bands: Int, stride: Int,
      maxBits: Int): DataFrame = {
    val needed = (bands - 1) * stride + maxBits
    counted
      .agg(count(lit(1)).as("n"), min(size(col("v"))).as("dim"))
      .select(
        when(col("dim") < needed,
          raise_error(concat(lit(s"semantic-dedup band layout needs " +
            s"embedding dim >= $needed (bands=$bands, stride=$stride, " +
            s"maxBits=$maxBits); corpus dim = "),
            col("dim").cast("string"))))
          .otherwise(
            (0 until maxBits).map(k =>
              when(expr(s"(n + ${SemTarget - 1}) div $SemTarget")
                > (1L << k), 1).otherwise(0))
              .reduce(_ + _))
          .cast("int").as("bits"))
  }

  /** (vec_id, cell, v, nrm, band, key) band relation of an assigned
    * set, keys at the width carried by `bitsRow`.
    */
  private def semanticBandify(assigned: DataFrame, bitsRow: DataFrame,
      bands: Int, stride: Int): DataFrame =
    (0 until bands).map { j =>
      assigned.crossJoin(broadcast(bitsRow))
        .select(col("vec_id"), col("cell"), col("v"), col("nrm"),
          lit(j).as("band"),
          VectorOps.signBucketAt(col("v"), j * stride, col("bits"))
            .as("key"))
    }.reduce(_ unionByName _)

  /** The quantizer's rep table (rep_id, rv, rn_) — with the bits width,
    * the semantic index's third artifact: a batch can only be assigned
    * to cells against the SAME reps the corpus was.
    */
  private def semanticReps(s: SparkSession, d: String): DataFrame = {
    val eC = embeddings(s, d).select(col("vec_id"), col("label"),
      VectorOps.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", VectorOps.norm(col("v")))
    eC.groupBy(col("label")).agg(min(col("vec_id")).as("rep_id"))
      .join(eC.select(col("vec_id").as("rep_id"), col("v").as("rv"),
        col("nrm").as("rn_")), Seq("rep_id"))
      .select(col("rep_id"), col("rv"), col("rn_"))
  }

  /** Today's batch, cell-assigned against `reps` and banded at the
    * width `bitsRow` carries (an INDEX property, fixed by the standing
    * corpus) — the (vec_id, cell, v, nrm, band, key) relation a probe
    * joins against the index and a maintenance append adopts into it.
    */
  private def semanticBatchBanded(s: SparkSession, d: String,
      bitsRow: DataFrame, reps: DataFrame): DataFrame = {
    val batch = vecsWithNearDups(s, d)
      .filter(col("vec_id") =!= col("base_id"))
      .withColumn("nrm", VectorOps.norm(col("v")))
    val wCell = Window.partitionBy(col("vec_id"))
      .orderBy(col("rep_score").desc, col("rep_id"))
    val batchAssigned = batch.join(broadcast(reps))
      .select(col("vec_id"), col("v"), col("nrm"), col("rep_id"),
        (VectorOps.dot(col("v"), col("rv")) / (col("nrm") * col("rn_")))
          .as("rep_score"))
      .withColumn("rn", row_number().over(wCell))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("v"), col("nrm"),
        col("rep_id").as("cell"))
    semanticBandify(batchAssigned, bitsRow, SemBands, SemStride)
  }

  /** The daily semantic-dedup probe against a standing cell+band index
    * (memoized-in-session or disk-persisted — the two gated forms must
    * agree): batch bands broadcast against the index on (cell, band,
    * key) with the cosine verify fused into the join, then the per-new-
    * vector accept/reject readout. Per-day cost scales with the batch;
    * the corpus side never shuffles.
    */
  private def semanticBatchProbe(corpusBanded: DataFrame,
      batchBanded: DataFrame): DataFrame = {
    val b = batchBanded.select(col("vec_id").as("new_id"),
      col("cell").as("cell_b"), col("band").as("band_b"),
      col("key").as("key_b"), col("v").as("v_b"), col("nrm").as("nrm_b"))
    val hits = corpusBanded.join(broadcast(b),
        col("cell") === col("cell_b") && col("band") === col("band_b") &&
          col("key") === col("key_b") &&
          VectorOps.dot(col("v"), col("v_b")) / (col("nrm") * col("nrm_b"))
            >= SemThr)
      .select(col("new_id"), col("vec_id").as("match_id"))
      .distinct()
    val g = hits.groupBy(col("new_id"))
      .agg(count(lit(1)).as("n_matches"),
        min(col("match_id")).as("first_match"))
    b.select(col("new_id")).distinct()
      .join(g, Seq("new_id"), "left")
      .select(col("new_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("first_match"),
        col("n_matches").isNotNull.as("is_dup"))
      .orderBy(col("new_id"))
  }

  /** MAP-ONLY cell-assign + bandify against DRIVER-HELD index
    * properties — the streamable form of [[semanticBatchBanded]]'s
    * assign step: the quantizer reps (|labels| rows, the size class
    * every consumer broadcasts) and the key width live in the
    * expression as literals, so the whole transform is one projection
    * plus one generator explode — no window, no aggregation, no
    * shuffle. Structured Streaming can run it in append mode with a
    * plain file sink, which is what lets index upkeep be a streaming
    * job. The argmax cell rides array_max over (score, -rep_id)
    * structs — lexicographically identical to the batch path's
    * row_number over (rep_score DESC, rep_id): same doubles, same
    * operation order, same tie rule.
    */
  private[graft] def semanticBandifyLiteral(df: DataFrame,
      reps: Array[(Long, Array[Double], Double)], bits: Int): DataFrame = {
    val nrm = VectorOps.norm(col("v"))
    val scored = reps.map { case (rid, rv, rn) =>
      struct(
        (VectorOps.dot(col("v"), typedLit(rv.toSeq)) / (nrm * lit(rn)))
          .as("s"),
        lit(-rid).as("nr"), lit(rid).as("rid"))
    }
    val cell = array_max(array(scored.toIndexedSeq: _*)).getField("rid")
    df.select(col("vec_id"), col("v"), nrm.as("nrm"), cell.as("cell"),
        col("ingest_day"),
        explode(array((0 until SemBands).map(j =>
          struct(lit(j).as("band"),
            VectorOps.signBucketAt(col("v"), j * SemStride, lit(bits))
              .as("key"))): _*)).as("bk"))
      .select(col("vec_id"), col("cell"), col("v"), col("nrm"),
        col("bk.band").as("band"), col("bk.key").as("key"),
        col("ingest_day"))
  }

  /** The BROADCAST form of [[semanticBandifyLiteral]] — same map-only
    * shape, same bit-exact cells/keys, but the quantizer reps ride a
    * torrent-broadcast handle through the native cell argmax
    * ([[graft.functions.SemanticCellArgmax]]) instead of typedLit
    * arrays in the expression tree: at a production cell count
    * (thousands of cells x real embedding widths) the literal form is
    * the same megabytes-per-task-binary hazard the PQ encode had. The
    * band keys never involved the reps and stay as-is.
    */
  private[graft] def semanticBandifyBroadcast(df: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[
        Array[(Long, Array[Double], Double)]], bits: Int): DataFrame = {
    val cell = graft.functions.SemanticCellExpr.cell(col("v"), bc)
    df.select(col("vec_id"), col("v"), VectorOps.norm(col("v")).as("nrm"),
        cell.as("cell"), col("ingest_day"),
        explode(array((0 until SemBands).map(j =>
          struct(lit(j).as("band"),
            VectorOps.signBucketAt(col("v"), j * SemStride, lit(bits))
              .as("key"))): _*)).as("bk"))
      .select(col("vec_id"), col("cell"), col("v"), col("nrm"),
        col("bk.band").as("band"), col("bk.key").as("key"),
        col("ingest_day"))
  }

  /** MAP-ONLY PQ encode against a DRIVER-HELD codebook — the streamable
    * form of [[pqEncodeSub]]: the K x PqM book rides the expression as
    * literals and each code_j is an array_min over (dist, cid) structs,
    * so encoding is a single projection per row (same distances — the
    * identical element_at/diff*diff left-associated shape — and the
    * same min-(d, cid) tie rule as the aggregate path). KEPT as the
    * bit-exactness anchor for [[pqEncodeBroadcast]] (PqTrainedSpec
    * pins the agreement); production paths use the broadcast form —
    * a literal book is a plan-size hazard at real K x M x dim.
    */
  private[graft] def pqEncodeLiteral(df: DataFrame,
      book: Map[Int, Array[(Long, Array[Double])]]): DataFrame = {
    val codes = (0 until PqM).map { j =>
      val cands = book(j).map { case (cid, w) =>
        val dist = (0 until PqSub).map { i =>
          val diff = element_at(col("v"), j * PqSub + i + 1) - lit(w(i))
          diff * diff
        }.reduce(_ + _)
        struct(dist.as("d"), lit(cid).as("c"))
      }
      array_min(array(cands.toIndexedSeq: _*)).getField("c")
        .as(s"code_$j")
    }
    df.select(col("vec_id") +: codes :+ col("ingest_day"): _*)
  }

  /** The BROADCAST form of [[pqEncodeLiteral]] — same map-only shape,
    * same bit-exact codes, but the book rides a torrent-broadcast
    * handle instead of the expression tree: the serialized plan stays
    * bytes-sized at ANY K x M x dim (a production 256 x 16 x 1024 book
    * is ~16 MB — as literals that lands in every task binary; as a
    * broadcast it ships once per executor). The whole codes row is ONE
    * native-expression call ([[graft.functions.PqEncodeCodes]]);
    * whole-stage codegen's subexpression elimination evaluates it once
    * and the per-subspace columns unpack it.
    */
  private[graft] def pqEncodeBroadcast(df: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[
        Array[Array[(Long, Array[Double])]]]): DataFrame = {
    val codes = graft.functions.PqEncodeExpr.codes(col("v"), bc)
    df.select(col("vec_id") +:
      (0 until PqM).map(j => element_at(codes, j + 1).as(s"code_$j")) :+
      col("ingest_day"): _*)
  }

  /** IVF-style cell-restricted ANN top-k (the q_ann_ivf plan, shared
    * with the recall audit): deterministic medoid quantizer (min vec_id
    * per label), cells assigned by best rep score, candidates restricted
    * to the query's cell.
    */
  private def annIvfTopK(s: SparkSession, d: String): DataFrame = {
    val assigned = ivfAssignCk(s, d)
    val q = assigned.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("cell").as("q_cell"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("vec_id"))
    assigned.join(broadcast(q),
        col("cell") === col("q_cell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (VectorOps.dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
          .as("score"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= AnnK)
      .select(col("q_id"), col("rn").cast("long").as("rn"), col("vec_id"),
        round(col("score"), 6).as("score"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** Brute-force exact cosine top-k for the same query batch — the
    * ground truth the recall audit scores ANN against.
    */
  private def annExactTopK(s: SparkSession, d: String, k: Int): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"),
      VectorOps.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", VectorOps.norm(col("v")))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("vec_id"))
    e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (VectorOps.dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
          .as("score"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- E1: exact dedup (hash-groupBy keep-first) ----------------------
    "q_dedup_exact" -> ((s, d) =>
      documents(s, d)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"))
        .orderBy(col("keep_id"))),

    // Bag-of-words fingerprint dedup: md5 of the sorted distinct token
    // set; docs with equal fingerprints are permutation-duplicates.
    "q_dedup_fingerprint" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
        .select(col("keep_id"), col("fp"), col("n_docs"))
        .orderBy(col("keep_id"))),

    // ---- E2: MinHash + LSH near-dup ------------------------------------
    // Per-doc 16-element minhash signature over 3-token shingles, plus the
    // 4 LSH band keys. Equality of any band key => near-dup candidate.
    "q_dedup_minhash" -> ((s, d) =>
      minhashSig(s, d)
        .select(col("doc_id"),
          md5(sigCsv(col("sig"))).as("sig_digest"),
          array_join(TextOps.lshBands(col("sig"), Bands, RowsPerBand), ",")
            .as("bands"))
        .orderBy(col("doc_id"))),

    // LSH bucket-size histogram: explode band keys, group into buckets,
    // histogram the bucket sizes. At scale this groupBy(band_key) IS the
    // near-dup candidate join; only (key, doc_id) pairs shuffle.
    "q_dedup_lsh_buckets" -> ((s, d) =>
      minhashSig(s, d)
        .select(explode(TextOps.lshBands(col("sig"), Bands, RowsPerBand))
          .as("band_key"))
        .groupBy(col("band_key")).agg(count(lit(1)).as("bucket_size"))
        .groupBy(col("bucket_size")).agg(count(lit(1)).as("n_buckets"))
        .orderBy(col("bucket_size"))),

    // The COMPLETE near-dup pipeline in one query: shingle -> minhash ->
    // band -> bucket-join producing candidate pairs -> exact-Jaccard
    // verification. Candidate generation is an equi-join on band_key
    // (shuffle on the key, never all-pairs); exact Jaccard runs only on
    // candidates. Synthetic near-dups (truncated copies) make the result
    // non-empty on this corpus.
    "q_dedup_pairs" -> ((s, d) =>
      verifiedPairs(s, d).orderBy(col("id_a"), col("id_b"))),

    // Candidate pairs -> canonical cluster ids (connected components by
    // min-label propagation, ops.Clusters): the step that turns a pair
    // list into an actionable keep/drop decision. Oracle: the SAME pair
    // set walked by a DuckDB recursive CTE.
    "q_dedup_clusters" -> ((s, d) =>
      graft.ops.Clusters.connectedComponents(
          verifiedPairs(s, d).select(col("id_a"), col("id_b")),
          "id_a", "id_b")
        .select(col("id").as("doc_id"), col("root").as("cluster"))
        .orderBy(col("doc_id"))),

    // INCREMENTAL cluster maintenance — the daily form of
    // q_dedup_clusters: yesterday's standing (id, root) assignment
    // (stood in here by CC over the CORPUS-only pair graph, the
    // corpusBandIndex pattern) absorbs today's batch-touched pairs
    // WITHOUT re-running multi-round propagation over the full graph.
    // The new pairs are batch-sized, so a driver union-find over the
    // TOUCHED ROOTS resolves every merge — including two standing
    // components bridged transitively through one batch doc — and the
    // update applies as ONE map-only broadcast-remap pass over the
    // standing table plus an append of the new nodes
    // ([[ops.Clusters.incrementalComponents]]). At 100 TB this is the
    // difference between a batch-sized daily job and re-shuffling the
    // whole pair graph every day. Gated EQUAL to the from-scratch CC
    // over corpus+batch (the same recursive-CTE oracle as
    // q_dedup_clusters), so a union-find or remap bug is a hash
    // mismatch, not a silent drift; ClustersSpec pins the bridge-merge
    // case synthetically.
    "q_dedup_clusters_incremental" -> ((s, d) => {
      val all = verifiedPairs(s, d).select(col("id_a"), col("id_b"))
        .localCheckpoint()
      val batchIds = docsWithNearDups(s, d)
        .filter(col("doc_id") =!= col("base_id")).select(col("doc_id"))
        .localCheckpoint()
      def touches(c: String) = all.join(
        broadcast(batchIds.withColumnRenamed("doc_id", c)), Seq(c),
        "left_semi").select(col("id_a"), col("id_b"))
      val newPairs = touches("id_a").unionByName(touches("id_b"))
        .distinct()
      val corpusPairs = all
        .join(broadcast(batchIds.withColumnRenamed("doc_id", "id_a")),
          Seq("id_a"), "left_anti")
        .join(broadcast(batchIds.withColumnRenamed("doc_id", "id_b")),
          Seq("id_b"), "left_anti")
      val standing = graft.ops.Clusters.connectedComponents(
        corpusPairs, "id_a", "id_b")
      graft.ops.Clusters.incrementalComponents(standing, newPairs,
          "id_a", "id_b")
        .select(col("id").as("doc_id"), col("root").as("cluster"))
        .orderBy(col("doc_id"))
    }),

    // The actual curation decision a dedup pipeline ships: per near-dup
    // cluster, keep the best document (most tokens, ties to the lowest
    // doc_id) and report what it displaced. The (max tokens, ties to
    // min id) selection is ONE hash aggregate: (n_tokens, doc_id) pack
    // into a single long — (n_tokens << 40) | (2^40-1 - doc_id) — whose
    // plain max is exactly "max n_tokens, then min doc_id", so the
    // per-cluster argmax costs one shuffle of 8-byte keys instead of
    // the textbook agg + join-back + re-agg (three exchanges plus a
    // join on the full scored relation). A long-typed max also stays in
    // hash aggregation, where max-of-struct would fall back to
    // sort-agg's immutable buffers. Packed domain (n_tokens < 2^22,
    // 0 <= doc_id < 2^40) holds for any real corpus; CurationOpsSpec
    // re-derives the keeper independently, so a packing regression
    // fails the spec, not just the oracle hash. Every cluster here has
    // >= 2 members by construction (components of the pair graph), so
    // the output is exactly the "what did dedup keep vs drop" report.
    "q_dedup_keep_best" -> ((s, d) => {
      val clusters = graft.ops.Clusters.connectedComponents(
          verifiedPairs(s, d).select(col("id_a"), col("id_b")),
          "id_a", "id_b")
        .select(col("id").as("doc_id"), col("root").as("cluster"))
      val toks = docsWithNearDups(s, d)
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).as("n_tokens"))
      val mask = (1L << 40) - 1
      clusters.join(toks, "doc_id")
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"),
          max(shiftleft(col("n_tokens").cast("long"), 40)
            .bitwiseOR(lit(mask) - col("doc_id"))).as("packed"))
        .select(col("cluster"),
          (lit(mask) - col("packed").bitwiseAND(lit(mask)))
            .as("keep_doc_id"),
          col("n_members"),
          shiftright(col("packed"), 40).cast("int").as("best_tokens"))
        .orderBy(col("cluster"))
    }),

    // Full damped PageRank: PrIters power iterations over the verified
    // near-dup pair graph. Same scaled-BIGINT state discipline as
    // q_pagerank_step — per-edge contribution is integer division of
    // the scaled rank by out-degree, damping is (85 * sum) div 100 —
    // so EVERY round is associative-exact and the whole iterated
    // computation is bit-identical across engines and partitionings
    // (iterating in floats would compound summation-order noise each
    // round). The edge+degree relation is checkpointed once and reused
    // by all rounds; each round is one join + one aggregate, the same
    // shape a 100 TB graph engine schedules.
    "q_pagerank_iter" -> ((s, d) => {
      val pairsDf = verifiedPairs(s, d).select(col("id_a"), col("id_b"))
      val sym = pairsDf
        .union(pairsDf.select(col("id_b"), col("id_a")))
        .toDF("src", "dst").distinct()
      val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val symDeg = sym.join(deg, "src").localCheckpoint()
      var ranks = symDeg.select(col("src").as("id")).distinct()
        .select(col("id"), lit(1000000000000L).as("r"))
      for (_ <- 1 to PrIters) {
        ranks = symDeg.join(ranks, symDeg("src") === ranks("id"))
          .select(col("dst").as("nid"), expr("r div deg").as("c"))
          .groupBy(col("nid")).agg(sum(col("c")).as("cs"))
          .select(col("nid").as("id"),
            (lit(150000000000L) + expr("(85L * cs) div 100")).as("r"))
      }
      ranks.select(col("id").as("doc_id"),
          round(col("r").cast("double") / lit(1e12), 6).as("score"))
        .orderBy(col("doc_id"))
    }),

    // One damped PageRank power-iteration step over the verified
    // near-dup pair graph (the centrality signal a curation pipeline
    // uses to pick cluster representatives). Unnormalized form
    // (score = N x standard PR from uniform init) so no division by the
    // global node count appears; every aggregated quantity is a SCALED
    // BIGINT (1e12/deg via integer div, sums associative) — summation
    // order cannot move a bit, so the result is partition-independent
    // and engine-exact. The float appears only in the final per-row
    // rescale. Bound: 85 * sum fits a long through ~10^5 nodes per
    // component at this scale factor family.
    "q_pagerank_step" -> ((s, d) => {
      val pairsDf = verifiedPairs(s, d).select(col("id_a"), col("id_b"))
      val sym = pairsDf
        .union(pairsDf.select(col("id_b"), col("id_a")))
        .toDF("src", "dst").distinct().localCheckpoint()
      val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      sym.join(deg, "src")
        .select(col("dst").as("doc_id"),
          expr("1000000000000L div deg").as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("cs"))
        .select(col("doc_id"),
          round((lit(150000000000L) + expr("(85L * cs) div 100"))
            .cast("double") / lit(1e12), 6).as("score"))
        .orderBy(col("doc_id"))
    }),

    // SimHash: 16-bit frequency-weighted signature; equal-or-close
    // signatures (hamming) are near-dups. Native codegen'd expression
    // (functions.SimHash16): the whole signature in one fused per-row
    // loop — signing 100 TB is a map-only scan, NO shuffle (the earlier
    // aggregation-shaped plan needed explode + 16 vote sums through an
    // agg exchange; specs assert all three formulations agree).
    "q_dedup_simhash" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          graft.functions.SimHash16(col("text")).as("simhash"))
        .orderBy(col("doc_id"))),

    // Hamming-band near-dup over the native simhash: split the 16-bit
    // signature into SimBands (2) bands of SimBandBits (8) bits. By
    // pigeonhole, any pair within hamming distance SimBands-1 (1) agrees
    // EXACTLY on at least one band, so an equi-join on (band, value)
    // finds every such pair — a guarantee, not a probability, unlike
    // minhash LSH — while never comparing all pairs.
    //
    // Scale shape: signatures COLLAPSE first (groupBy sig), so the
    // banded self-join runs on |distinct sigs|, not |docs| — a corpus
    // where thousands of docs share a signature (this one: 5000 docs,
    // ~1600 sigs at sf0.1) would otherwise explode the hot band buckets
    // quadratically in DOCS; collapsed, the quadratic term is in SIGS
    // and the doc-level blowup is deferred to the final expansion,
    // which is exactly the output size. Identical-sig pairs expand
    // directly (hamming 0); cross-sig candidates carry their doc-id
    // lists through the join and expand after the hamming verify. A
    // sig pair sharing both bands is kept only at its FIRST agreeing
    // band (per-row predicate — dedup without a distinct shuffle).
    // Hot-bucket economics (measured, BASELINE.md): simhash BITS ARE
    // BIASED on natural corpora — each bit is a majority vote over a
    // largely shared vocabulary — so band values cluster into hot
    // (band, value) buckets and the join output concentrates on few
    // tasks. The per-PAIR work must therefore be long-register cheap:
    // every string->numeric conversion happens per SIGNATURE before the
    // join (conv of the binary string once per sig row), and the pair
    // predicates — ordering, first-agreeing-band dedup, hamming — are
    // pure codegen'd long ops on the carried value.
    //
    // DEMO-GRADE WIDTH — production use belongs on q_dedup_hamming64:
    // 2^16 signatures saturate near 1e5 documents (measured 100x
    // ScaleStress exponent ~1.0, BASELINE.md), past which the band
    // buckets densify and cost goes quadratic in distinct sigs (then
    // constant once the space is fully saturated). The 16-bit query is
    // kept deliberately as the saturation measurement; the 64-bit twin
    // below (exponent 0.10 at 100x) is the same plan at a width that
    // defers saturation past any realistic corpus.
    "q_dedup_hamming" -> ((s, d) => {
      val groups = docsWithNearDups(s, d)
        .select(col("doc_id"),
          graft.functions.SimHash16(col("text")).as("sig"))
        .groupBy(col("sig"))
        .agg(collect_list(col("doc_id")).as("ids"))
        // numeric signature value computed ONCE per distinct sig
        .withColumn("h", conv(col("sig"), 2, 10).cast("long"))
        .localCheckpoint()
      val intra = groups
        .select(explode(col("ids")).as("id_a"), col("ids"))
        .select(col("id_a"), explode(col("ids")).as("id_b"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), lit(0).as("hamming"))
      // band value = a shifted slice of h (no string substrings anywhere
      // past this point)
      def slice(h: org.apache.spark.sql.Column, b: Int) =
        shiftright(h, (SimBands - 1 - b) * SimBandBits)
          .bitwiseAND(lit((1 << SimBandBits) - 1))
      val sigBands = groups.select(col("h"), col("ids"), explode(array(
          (0 until SimBands).map(b => struct(lit(b).as("band"),
            slice(col("h"), b).as("bv"))): _*)).as("e"))
        .select(col("h"), col("ids"),
          col("e.band").as("band"), col("e.bv").as("bv"))
      val ham = bit_count(col("h_a").bitwiseXOR(col("h_b")))
      // binary-string order == numeric order, so the pair-ordering and
      // first-agreeing-band dedup ride the carried longs too
      val firstAgreeingBand =
        when(slice(col("h_a"), 0) === slice(col("h_b"), 0), 0).otherwise(1)
      val cross = sigBands
        .select(col("h").as("h_a"), col("ids").as("ids_a"),
          col("band"), col("bv"))
        .join(sigBands.select(col("h").as("h_b"),
          col("ids").as("ids_b"), col("band"), col("bv")),
          Seq("band", "bv"))
        .filter(col("h_a") < col("h_b") &&
          col("band") === firstAgreeingBand)
        .select(col("ids_a"), col("ids_b"), ham.as("hamming"))
        .filter(col("hamming") <= SimBands - 1)
        .select(explode(col("ids_a")).as("i"), col("ids_b"),
          col("hamming"))
        .select(col("i"), explode(col("ids_b")).as("j"), col("hamming"))
        .select(least(col("i"), col("j")).as("id_a"),
          greatest(col("i"), col("j")).as("id_b"), col("hamming"))
      intra.unionByName(cross).orderBy(col("id_a"), col("id_b"))
    }),

    // Production-width hamming LSH: the 100x ScaleStress run measured
    // the 16-bit pipeline crossing linear (exponent 1.05, BASELINE.md)
    // because 2^16 signatures saturate near 1e5 documents and the band
    // buckets densify. 64-bit signatures defer saturation past any
    // realistic corpus; 16-bit bands keep the pigeonhole guarantee
    // (hamming <= 3 pairs agree on >= 1 of 4 bands) with 65536-value
    // band keys. Same collapse-to-distinct-signatures shape as
    // q_dedup_hamming; the verify xors the signature as two 32-bit
    // halves (conv of a full 64-char binary string would overflow a
    // signed long).
    "q_dedup_hamming64" -> ((s, d) => {
      val groups = docsWithNearDups(s, d)
        .select(col("doc_id"),
          graft.functions.SimHash64(col("text")).as("sig"))
        .groupBy(col("sig"))
        .agg(collect_list(col("doc_id")).as("ids"))
        // the 64 bits as two unsigned-32 longs, converted ONCE per
        // distinct sig — per-pair work in the (measured-hot, see
        // q_dedup_hamming) band buckets is then pure long arithmetic
        .withColumn("h0", conv(substring(col("sig"), 1, 32), 2, 10)
          .cast("long"))
        .withColumn("h1", conv(substring(col("sig"), 33, 32), 2, 10)
          .cast("long"))
        .localCheckpoint()
      val intra = groups
        .select(explode(col("ids")).as("id_a"), col("ids"))
        .select(col("id_a"), explode(col("ids")).as("id_b"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), lit(0).as("hamming"))
      // 16-bit band value b = a shifted slice of the owning half
      def slice(pre: String, b: Int) = {
        val h = col(pre + (b / 2))
        shiftright(h, (1 - b % 2) * Sim64BandBits)
          .bitwiseAND(lit((1 << Sim64BandBits) - 1))
      }
      val sigBands = groups.select(col("h0"), col("h1"), col("ids"),
          explode(array((0 until Sim64Bands).map(b =>
            struct(lit(b).as("band"), slice("h", b).as("bv"))): _*)).as("e"))
        .select(col("h0"), col("h1"), col("ids"),
          col("e.band").as("band"), col("e.bv").as("bv"))
      val ham = bit_count(col("h0_a").bitwiseXOR(col("h0_b"))) +
        bit_count(col("h1_a").bitwiseXOR(col("h1_b")))
      def sliceSide(side: String, b: Int) = {
        val h = col(s"h${b / 2}_$side")
        shiftright(h, (1 - b % 2) * Sim64BandBits)
          .bitwiseAND(lit((1 << Sim64BandBits) - 1))
      }
      val firstAgreeingBand = (0 until Sim64Bands - 1).foldRight(
        lit(Sim64Bands - 1): org.apache.spark.sql.Column) { case (b, acc) =>
        when(sliceSide("a", b) === sliceSide("b", b), b).otherwise(acc)
      }
      // binary-string order == (h0, h1) lexicographic numeric order
      val pairOrdered = col("h0_a") < col("h0_b") ||
        (col("h0_a") === col("h0_b") && col("h1_a") < col("h1_b"))
      val cross = sigBands
        .select(col("h0").as("h0_a"), col("h1").as("h1_a"),
          col("ids").as("ids_a"), col("band"), col("bv"))
        .join(sigBands.select(col("h0").as("h0_b"), col("h1").as("h1_b"),
          col("ids").as("ids_b"), col("band"), col("bv")),
          Seq("band", "bv"))
        .filter(pairOrdered && col("band") === firstAgreeingBand)
        .select(col("ids_a"), col("ids_b"), ham.as("hamming"))
        .filter(col("hamming") <= Sim64Bands - 1)
        .select(explode(col("ids_a")).as("i"), col("ids_b"), col("hamming"))
        .select(col("i"), explode(col("ids_b")).as("j"), col("hamming"))
        .select(least(col("i"), col("j")).as("id_a"),
          greatest(col("i"), col("j")).as("id_b"), col("hamming"))
      intra.unionByName(cross).orderBy(col("id_a"), col("id_b"))
    }),

    // n-gram Jaccard over a deterministic linear pair set (doc i vs i+1):
    // the resemblance measure LSH approximates, computed exactly. Pair
    // assembly by double-emission ([[adjacentPairs]]): one shuffle,
    // shingle sets computed once — a self-join on id/id+1 would
    // re-shingle every document on both sides.
    "q_dedup_jaccard" -> ((s, d) =>
      adjacentPairs(
        documents(s, d).select(col("doc_id"),
          TextOps.distinctShingles(col("text"), K).as("sh")),
        "sh")
        .select(col("id_a"), col("id_b"),
          round(size(array_intersect(col("sh_a"), col("sh_b")))
            .cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))).cast("double"), 6)
            .as("jaccard"))
        .orderBy(col("id_a"))),

    // Embedding-cosine near-dup over the same linear pair set: exact
    // double cosine, near_dup flag at 0.8.
    "q_dedup_cosine" -> ((s, d) => {
      val e = embeddings(s, d).select(col("vec_id"),
        VectorOps.toDouble(col("embedding")).as("v"))
      val a = e.select(col("vec_id").as("id_a"), col("v").as("v_a"))
      val b = e.select(col("vec_id").as("id_b"), col("v").as("v_b"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"),
          round(VectorOps.cosine(col("v_a"), col("v_b")), 6).as("cos"),
          (VectorOps.cosine(col("v_a"), col("v_b")) > 0.8).as("near_dup"))
        .orderBy(col("id_a"))
    }),

    // SemDeDup-shaped semantic dedup: quantize every embedding into a
    // coarse cell (the IVF medoid assignment — at scale, a k-means fit),
    // then prune ONLY within cells: a vector is a duplicate if a
    // lower-id vector in the SAME cell has cosine >= SemThr. The cell
    // restriction turns O(n²) global pairwise into O(sum cell²), and the
    // per-cell self-join is an equi-join on the cell id.
    //
    // EXACTNESS ANCHOR, not the production path: the quantizer's cell
    // COUNT is fixed (one medoid per label), so per-cell occupancy — and
    // with it the within-cell pair work — grows linearly with the corpus
    // and the pipeline goes super-linear overall. Measured by the 100x
    // ScaleStress: exponent 1.22, 270 s at 500 k vectors (BASELINE.md).
    // Production use at scale is q_dedup_semantic_scaled below, whose
    // bucket occupancy is bounded by construction; this exact-within-cell
    // variant stays as the semantics reference and the saturation
    // measurement (the q_dedup_hamming / hamming64 pairing).
    "q_dedup_semantic" -> ((s, d) => {
      val assigned = ivfAssignCk(s, d)
      val dropped = semanticExactDropped(assigned)
        .withColumn("is_dup", lit(true))
      assigned.select(col("vec_id"), col("cell"))
        .join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          coalesce(col("is_dup"), lit(false)).as("is_dup"))
        .orderBy(col("vec_id"))
    }),

    // The PRODUCTION semantic-dedup path, built after the 100x
    // ScaleStress measured q_dedup_semantic super-linear (exponent
    // 1.22): same medoid quantizer, but within each cell candidates
    // are further restricted to sign-LSH band buckets whose key WIDTH
    // adapts to the corpus — bits = ceil(log2(ceil(n/512))), computed
    // as an integer compare-chain (sum of m > 2^k), never a libm log2
    // whose 1-ulp error at power-of-two boundaries could diverge
    // between engines. Expected occupancy per (cell, band, key) bucket
    // is thereby ~constant in n, so pair work grows linearly where the
    // exact variant grows quadratically. Three bands at stride 21 (64
    // dims ≥ 3*21) give a near-identical pair three independent
    // chances to collide — the minhash-LSH recall move; a pair within
    // cosine >= SemThr that flips a sign in all three windows is
    // missed, the documented LSH recall trade. n <= 512 degenerates to
    // bits=0 (one bucket per band = the exact within-cell semantics).
    // is_dup is EXISTS-shaped, so multi-band collisions are absorbed
    // by the distinct and the output is partitioning-independent.
    // Band geometry (bands, stride, key-width cap) is a PARAMETER of
    // [[semanticScaledDropped]] — the recall knob, swept per round by
    // q_dedup_semantic_sweep — and the helper raises a runtime error
    // when the embedding dim can't carry the layout (Spark's slice
    // CLAMPS past the array end while the oracle's v[i] yields NULL ->
    // '0', so a silently-clamped layout would hash-diverge instead of
    // failing loudly).
    "q_dedup_semantic_scaled" -> ((s, d) => {
      val assigned = ivfAssignCk(s, d)
      val dropped =
        semanticScaledDropped(assigned, SemBands, SemStride, SemMaxBits)
          .withColumn("is_dup", lit(true))
      assigned.select(col("vec_id"), col("cell"))
        .join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          coalesce(col("is_dup"), lit(false)).as("is_dup"))
        .orderBy(col("vec_id"))
    }),

    // The RECALL KNOB swept under the oracle gate: run the band-bucketed
    // dedup at every band count 1..4 over ONE cached cell assignment
    // (the q_dedup_sweep shape — per-config relations union into a
    // single plan, the corpus is scanned from the checkpoint, never
    // re-assigned) and reduce each config to (survivor count, agreement
    // with the exact dedup). More bands = more independent collision
    // chances = higher recall at proportional band cost; the measured
    // recall-vs-bands curve is what lets a user BUY recall with known
    // cost instead of trusting the default. Stride spreads the bands
    // evenly over the embedding (EmbDim/bands); the key-width cap keeps
    // every window inside the vector, enforced by the helper's dim
    // guard.
    "q_dedup_semantic_sweep" -> ((s, d) => {
      val assigned = ivfAssignCk(s, d)
      val ex = semanticExactDropped(assigned)
        .withColumn("de", lit(true)).localCheckpoint()
      val perCfg = (1 to 4).map { b =>
        val stride = EmbDim / b
        semanticScaledDropped(assigned, b, stride,
          math.min(SemMaxBits, stride))
          .withColumn("n_bands", lit(b.toLong))
      }.reduce(_ unionByName _)
      perCfg.join(ex, Seq("vec_id"), "left")
        .groupBy(col("n_bands"))
        .agg(count(lit(1)).as("n_scaled"),
          sum(when(col("de"), 1L).otherwise(0L)).as("n_both"))
        .crossJoin(broadcast(ex.agg(count(lit(1)).as("n_exact"))))
        .select(col("n_bands"), col("n_exact"), col("n_scaled"),
          col("n_both"),
          expr("CASE WHEN n_exact = 0 THEN 1000000L " +
            "ELSE n_both * 1000000L div n_exact END").as("recall_ppm"))
        .orderBy(col("n_bands"))
    }),

    // Incremental SEMANTIC dedup — the daily form of
    // q_dedup_semantic_scaled, completing the incremental pairing the
    // text side already has (q_dedup_incremental /
    // q_dedup_cross_incremental). Today's batch of ε-shifted vectors is
    // cell-assigned against the SAME broadcast medoid reps, banded at
    // the width the STANDING CORPUS dictates (bits is an index
    // property), and probes the corpus band relation on (cell, band,
    // key) with the cosine verify fused into the join — per-day work
    // scales with the batch, the corpus side is the precomputed index.
    // Readout per new vector: match count, first (min-id) corpus match,
    // is_dup — the accept/reject decision a crawl pipeline applies.
    "q_dedup_semantic_incremental" -> ((s, d) => {
      val corpus = ivfAssignCk(s, d)
      val bitsRow = semanticBitsRow(corpus, SemBands, SemStride, SemMaxBits)
      semanticBatchProbe(
        semanticBandify(corpus, bitsRow, SemBands, SemStride),
        semanticBatchBanded(s, d, bitsRow, semanticReps(s, d)))
    }),

    // The PERSISTED semantic standing index — the q_dedup_index_persist
    // move applied to the vector side, closing the incremental story:
    // the index BUILD job writes all three artifacts to the cluster FS
    // (the cell+band relation hash-clustered and sorted on the probe
    // key; the 1-row bits width — an index property, not a per-batch
    // recomputation; the quantizer reps a batch must be assigned
    // against), the daily probe runs in a FRESH SESSION against those
    // tables, and the MAINTENANCE append adopts today's batch bands so
    // tomorrow's probe sees them — upkeep costs the batch, never a
    // rebuild. The gated rows equal q_dedup_semantic_incremental's
    // (persistence must change nothing); the booleans pin that the
    // probe really read disk and that the appended index covers exactly
    // the corpus-plus-batch band relation (SemBands rows per vector).
    "q_dedup_semantic_index_persist" -> ((s, d) => {
      val dir = Relational.rtDir("sidx", d)
      // the three BUILD artifacts (bands, bits, reps) are deterministic
      // fixture ([[Relational.cachedPrologue]]); the teeth — the
      // fresh-session disk probe and the maintenance append — run on
      // this gate's own copy
      Relational.cachedPrologue("sidx", d, dir) { b =>
        val corpus = ivfAssignCk(s, d)
        val bitsRow =
          semanticBitsRow(corpus, SemBands, SemStride, SemMaxBits)
        semanticBandify(corpus, bitsRow, SemBands, SemStride)
          .repartition(8, col("cell"), col("band"), col("key"))
          .sortWithinPartitions(col("cell"), col("band"), col("key"))
          .write.mode("overwrite").parquet(s"$b/bands")
        bitsRow.coalesce(1).write.mode("overwrite").parquet(s"$b/bits")
        semanticReps(s, d).coalesce(1)
          .write.mode("overwrite").parquet(s"$b/reps")
      }
      val s2 = s.newSession()
      val idx = s2.read.parquet(s"$dir/bands")
      val bits2 = s2.read.parquet(s"$dir/bits")
      val reps2 = s2.read.parquet(s"$dir/reps")
      val fromDisk = idx.inputFiles.nonEmpty
      val batchBanded = semanticBatchBanded(s2, d, bits2, reps2)
      // the probe MATERIALIZES (localCheckpoint is eager) before the
      // maintenance append lands in the same directory: correctness
      // must not hinge on InMemoryFileIndex pinning its file listing
      // at read time — a relist (FileIndex refresh, DSv2 migration)
      // would otherwise let the probe see its own batch and emit
      // self-matches (cosine(v,v)=1 >= SemThr)
      val out = semanticBatchProbe(idx, batchBanded).localCheckpoint()
      batchBanded.repartition(1, col("cell"), col("band"), col("key"))
        .sortWithinPartitions(col("cell"), col("band"), col("key"))
        .write.mode("append").parquet(s"$dir/bands")
      val maintained = Relational.diskRowCount(s2, s"$dir/bands") ==
        vecsWithNearDups(s2, d).count() * SemBands
      out.withColumn("probe_from_disk", lit(fromDisk))
        .withColumn("index_maintained", lit(maintained))
    }),

    // SEMANTIC-index upkeep as a STREAMING job — the
    // q_stream_index_maintain pattern applied to the vector side. The
    // BUILD job persists the index PROPERTIES (quantizer reps + key
    // width); given those, banding is MAP-ONLY
    // ([[semanticBandifyLiteral]]: literal-reps argmax cell + generator
    // explode — no window, no aggregation), so the band relation
    // itself is BUILT AND MAINTAINED by one Structured Streaming query
    // appending to the index table through the parquet file sink:
    // corpus lands as micro-batch 1 (ingest day 0), today's batch as
    // micro-batch 2 (day 1), each exactly once (checkpointed source
    // offsets — a crashed upkeep run resumes instead of
    // double-appending). The accumulated SINK IS the standing index;
    // rows carry their ingest day, so the fresh-session probe prunes
    // to the AS-OF-yesterday index with one pushed-down partition-style
    // filter (day 0) — which is why the probe must equal the
    // incremental accounting bit for bit, with the booleans pinning
    // disk round-trip and exactly SemBands rows per vector ever
    // ingested.
    "q_stream_semantic_index_maintain" -> ((s, d) => {
      val base = Relational.rtDir("ssidxm", d)
      // the index PROPERTIES (reps + key width) are deterministic
      // fixture; the streaming build/maintain teeth run on this
      // gate's own copy (the copy starts with no stream dir)
      Relational.cachedPrologue("ssidxm", d, base) { b =>
        val corpus = ivfAssignCk(s, d)
        semanticBitsRow(corpus, SemBands, SemStride, SemMaxBits)
          .coalesce(1).write.mode("overwrite").parquet(s"$b/bits")
        semanticReps(s, d).coalesce(1)
          .write.mode("overwrite").parquet(s"$b/reps")
      }
      val repsL = s.read.parquet(s"$base/reps").collect()
        .map(r => (r.getLong(0),
          r.getSeq[Double](1).toArray, r.getDouble(2)))
        .sortBy(_._1)
      val repsBc = s.sparkContext.broadcast(repsL)
      val bitsL = s.read.parquet(s"$base/bits").head.getInt(0)
      val all = vecsWithNearDups(s, d)
      val dir = java.nio.file.Files.createTempDirectory("graft_ssidxm_")
      try {
        val t0 = System.currentTimeMillis()
        Relational.stageStreamFile(
          all.filter(col("vec_id") === col("base_id"))
            .select(col("vec_id"), col("v"), lit(0).as("ingest_day")),
          dir, "0_vecs.parquet", t0 - 60000)
        Relational.stageStreamFile(
          all.filter(col("vec_id") =!= col("base_id"))
            .select(col("vec_id"), col("v"), lit(1).as("ingest_day")),
          dir, "1_vecs.parquet", t0 - 30000)
        val schema = s.read.parquet(s"$dir/0_vecs.parquet").schema
        val raw = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(dir.toString)
        Relational.drainStreamFiles(
          semanticBandifyBroadcast(raw, repsBc, bitsL), s"$base/stream")
        val s2 = s.newSession()
        val idx = s2.read.parquet(s"$base/stream/out")
        val maintained = idx.count() == all.count() * SemBands
        val corpusBanded = idx.filter(col("ingest_day") === 0)
          .drop("ingest_day")
        semanticBatchProbe(corpusBanded,
            semanticBatchBanded(s2, d, s2.read.parquet(s"$base/bits"),
              s2.read.parquet(s"$base/reps")))
          .withColumn("probe_from_disk", lit(idx.inputFiles.nonEmpty))
          .withColumn("index_maintained", lit(maintained))
      } finally Relational.deleteRecursive(dir)
    }),

    // The RE-BAND gate — the semantic index's DRIFT policy, the
    // q_pq_refit_gate move applied to the occupancy knob: the standing
    // index bands at a key width fixed at creation (bits =
    // ceil(log2(ceil(n/SemTarget)))), and as appends grow the corpus
    // the fixed width saturates — expected bucket occupancy doubles
    // with n and the within-bucket verify drifts back toward the
    // quadratic exact path. The decision arm gated here is the classic
    // RESIZE-ON-DOUBLING hysteresis (never the raw width formula, whose
    // boundary a +20 batch can straddle and thrash): when standing+batch
    // reaches 2x the creation-time count, RE-BAND the whole index at
    // the width the grown corpus dictates (a full rewrite — cost scales
    // with the corpus, exactly like the codebook refit), else keep
    // appending at the creation width. Both arms run on inputs
    // CONSTRUCTED to land on opposite sides at EVERY scale: `stable` is
    // the standard daily batch (n+20 < 2n for any real corpus),
    // `growth` adds four shifted corpus replicas (5n >= 2n always, and
    // 5x growth raises the width at every test scale). The oracle
    // recomputes the counts, the decision, BOTH band relations, and the
    // batch probe against each, so the gated rows pin the decision
    // boolean, the before/after widths, the index row count, and the
    // probe readout per arm.
    "q_dedup_semantic_rebits" -> ((s, d) => {
      val corpus = ivfAssignCk(s, d)
      val nCreate = corpus.count()
      val bits0 = semanticBitsRow(corpus, SemBands, SemStride, SemMaxBits)
        .head.getInt(0)
      val reps = semanticReps(s, d).localCheckpoint()
      val e = embeddings(s, d).select(col("vec_id"),
        VectorOps.toDouble(col("embedding")).as("v"))
      val wCell = Window.partitionBy(col("vec_id"))
        .orderBy(col("rep_score").desc, col("rep_id"))
      // cell-assign an arbitrary (vec_id, v) set against the INDEX reps
      def assignSet(vs: DataFrame): DataFrame =
        vs.withColumn("nrm", VectorOps.norm(col("v")))
          .join(broadcast(reps))
          .select(col("vec_id"), col("v"), col("nrm"), col("rep_id"),
            (VectorOps.dot(col("v"), col("rv")) / (col("nrm") * col("rn_")))
              .as("rep_score"))
          .withColumn("rn", row_number().over(wCell))
          .filter(col("rn") === 1)
          .select(col("vec_id"), col("v"), col("nrm"),
            col("rep_id").as("cell"))
      val nBatch = vecsWithNearDups(s, d)
        .filter(col("vec_id") =!= col("base_id")).count()
      def arm(name: String, replicas: Int): DataFrame = {
        // replica shifts as PARSED DECIMAL LITERALS (0.001..0.004), the
        // same doubles DuckDB's literals parse to — a computed 0.001*r
        // could differ from the literal by one ulp in either engine
        // assign ALL replicas in ONE pass (union first, then the
        // broadcast join + per-vec_id window once): replica id spaces
        // are disjoint, so the window partitions are untouched and the
        // per-vector assignment rows are identical to r separate
        // passes — this just stops paying the join+window shuffle per
        // replica (guide §1.2: fewer passes)
        val standing =
          if (replicas == 0) corpus
          else corpus.unionByName(assignSet(
            (1 to replicas).map { r =>
              e.select(
                (col("vec_id") + lit(r * 10000000L)).as("vec_id"),
                transform(col("v"), x => x + lit(s"0.00$r".toDouble))
                  .as("v"))
            }.reduce(_ unionByName _))).localCheckpoint()
        val nStanding = standing.count()
        val nTotal = nStanding + nBatch
        val reband = nTotal >= 2 * nCreate
        val bitsAfter =
          if (reband)
            semanticBitsRow(standing, SemBands, SemStride, SemMaxBits)
              .head.getInt(0)
          else bits0
        val bitsRowUsed = s.range(1).select(lit(bitsAfter).as("bits"))
        val idx = semanticBandify(standing, bitsRowUsed, SemBands,
          SemStride)
        val p = semanticBatchProbe(idx,
            semanticBatchBanded(s, d, bitsRowUsed, reps))
          .agg(count(lit(1)).as("pn"),
            sum(when(col("is_dup"), 1L).otherwise(0L)).as("pd"),
            sum(col("n_matches")).as("pm"),
            min(col("first_match")).as("pf"))
          .head
        s.range(1).select(
          lit(name).as("arm"),
          lit(nCreate).as("n_create"), lit(nTotal).as("n_total"),
          lit(reband).as("reband"),
          lit(bits0).as("bits_before"), lit(bitsAfter).as("bits_after"),
          lit(nStanding * SemBands).as("index_rows"),
          lit(p.getLong(0)).as("probe_new"),
          lit(p.getLong(1)).as("probe_dups"),
          lit(p.getLong(2)).as("probe_matches"),
          (if (p.isNullAt(3)) lit(null).cast("long")
           else lit(p.getLong(3))).as("probe_first"))
      }
      // the two decision arms are independent job chains over shared
      // checkpointed/memoized inputs — overlap them (guide §2.6, the
      // q_pq_refit_gate move); each arm's rows are unchanged
      locally {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
        try {
          val fg = scala.concurrent.Future(arm("growth", 4))(ec)
          val fs = scala.concurrent.Future(arm("stable", 0))(ec)
          val inf = scala.concurrent.duration.Duration.Inf
          scala.concurrent.Await.result(fg, inf)
            .unionByName(scala.concurrent.Await.result(fs, inf))
            .orderBy(col("arm"))
        } finally pool.shutdown()
      }
    }),

    // STREAMING UPKEEP + DRIFT POLICY AS ONE LIFECYCLE — the
    // composition round 12 left open: q_stream_semantic_index_maintain
    // streams appends at the CREATION width forever, and
    // q_dedup_semantic_rebits gates the resize-on-doubling decision as
    // a batch query. Here the decision lives INSIDE the streaming job:
    // each micro-batch's foreachBatch checks standing+batch against
    // 2x the creation count; below the doubling it appends at the
    // current width (map-only, the maintain path), at or above it
    // RE-BANDS the whole standing index at the width the grown corpus
    // dictates (the full rewrite the policy buys) and republishes the
    // width table the probes read. Micro-batch 1 is the corpus (n,
    // appends at bits0); micro-batch 2 is the 4-replica growth batch
    // (4n — lands exactly like the rebits growth arm, 5n >= 2n at
    // every scale), so the stream re-bands MID-RUN and the
    // fresh-session probe against the rewritten index must equal the
    // batch rebits growth arm's full recomputation bit for bit. The
    // gated row pins the decision, both widths, the rewritten index's
    // row count, and the probe readout; booleans pin disk round-trip
    // and that the width table really changed mid-stream.
    "q_stream_semantic_rebits" -> ((s, d) => {
      val base = Relational.rtDir("ssrb", d)
      val corpus = ivfAssignCk(s, d)
      val nCreate = corpus.count()
      // bits+reps build is IDENTICAL to the streaming-maintain gate's
      // prologue — ONE cached base ("ssidxm") serves both copies
      Relational.cachedPrologue("ssidxm", d, base) { b =>
        val c = ivfAssignCk(s, d)
        semanticBitsRow(c, SemBands, SemStride, SemMaxBits)
          .coalesce(1).write.mode("overwrite").parquet(s"$b/bits")
        semanticReps(s, d).coalesce(1)
          .write.mode("overwrite").parquet(s"$b/reps")
      }
      val repsL = s.read.parquet(s"$base/reps").collect()
        .map(r => (r.getLong(0),
          r.getSeq[Double](1).toArray, r.getDouble(2)))
        .sortBy(_._1)
      val repsBc = s.sparkContext.broadcast(repsL)
      val bits0 = s.read.parquet(s"$base/bits").head.getInt(0)
      // the adaptive width as pure integer arithmetic — the same
      // compare-chain as semanticBitsRow (never a libm log2), callable
      // from the per-batch policy where only a COUNT exists
      def widthOf(n: Long): Int = {
        val m = (n + SemTarget - 1) / SemTarget
        (0 until SemMaxBits).count(k => m > (1L << k))
      }
      val e = embeddings(s, d).select(col("vec_id"),
        VectorOps.toDouble(col("embedding")).as("v"))
      val growth = (1 to 4).map { r =>
        e.select((col("vec_id") + lit(r * 10000000L)).as("vec_id"),
          transform(col("v"), x => x + lit(s"0.00$r".toDouble)).as("v"))
      }.reduce(_ unionByName _)
      val idxPath = s"$base/index"
      val drop = java.nio.file.Files.createTempDirectory("graft_ssrb_")
      try {
        val t0 = System.currentTimeMillis()
        Relational.stageStreamFile(
          corpus.select(col("vec_id"), col("v"), lit(0).as("ingest_day")),
          drop, "0_vecs.parquet", t0 - 60000)
        Relational.stageStreamFile(
          growth.select(col("vec_id"), col("v"), lit(1).as("ingest_day")),
          drop, "1_vecs.parquet", t0 - 30000)
        val schema = s.read.parquet(s"$drop/0_vecs.parquet").schema
        val raw = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(drop.toString)
        graft.streaming.Streams.runWithBatchCommit(raw, s"$base/ckpt") {
          (b, _) =>
            val sb = b.sparkSession
            val exists = new java.io.File(idxPath).exists()
            val nStanding =
              if (exists) Relational.diskRowCount(sb, idxPath) / SemBands
              else 0L
            val nBatch = b.count()
            val curBits = sb.read.parquet(s"$base/bits").head.getInt(0)
            if (nStanding + nBatch >= 2 * nCreate) {
              // RESIZE-ON-DOUBLING: rewrite standing + batch at the
              // grown width, republish the width table the probes read.
              // The standing vectors ride the index itself (band 0
              // holds one (vec_id, v) per vector), materialized
              // eagerly so the overwrite below never reads its own
              // target.
              val newBits = widthOf(nStanding + nBatch)
              val standingVecs =
                if (exists) sb.read.parquet(idxPath)
                  .filter(col("band") === 0)
                  .select(col("vec_id"), col("v"), col("ingest_day"))
                else b.limit(0).select(col("vec_id"), col("v"),
                  col("ingest_day"))
              val allVecs = standingVecs
                .unionByName(b.select(col("vec_id"), col("v"),
                  col("ingest_day")))
                .localCheckpoint()
              semanticBandifyBroadcast(allVecs, repsBc, newBits)
                .write.mode("overwrite").parquet(idxPath)
              sb.range(1).select(lit(newBits).as("bits")).coalesce(1)
                .write.mode("overwrite").parquet(s"$base/bits")
            } else
              semanticBandifyBroadcast(
                  b.select(col("vec_id"), col("v"), col("ingest_day")),
                  repsBc, curBits)
                .write.mode("append").parquet(idxPath)
        }.awaitTermination()
        val s2 = s.newSession()
        val idx = s2.read.parquet(idxPath)
        val bitsAfter = s2.read.parquet(s"$base/bits").head.getInt(0)
        val nStandingFinal = Relational.diskRowCount(s2, idxPath) / SemBands
        val nProbe = vecsWithNearDups(s2, d)
          .filter(col("vec_id") =!= col("base_id")).count()
        val nTotal = nStandingFinal + nProbe
        val p = semanticBatchProbe(idx.drop("ingest_day"),
            semanticBatchBanded(s2, d, s2.read.parquet(s"$base/bits"),
              s2.read.parquet(s"$base/reps")))
          .agg(count(lit(1)).as("pn"),
            sum(when(col("is_dup"), 1L).otherwise(0L)).as("pd"),
            sum(col("n_matches")).as("pm"),
            min(col("first_match")).as("pf"))
          .head
        s2.range(1).select(
          lit(nCreate).as("n_create"), lit(nTotal).as("n_total"),
          lit(nTotal >= 2 * nCreate).as("reband"),
          lit(bits0).as("bits_before"), lit(bitsAfter).as("bits_after"),
          lit(nStandingFinal * SemBands).as("index_rows"),
          lit(p.getLong(0)).as("probe_new"),
          lit(p.getLong(1)).as("probe_dups"),
          lit(p.getLong(2)).as("probe_matches"),
          (if (p.isNullAt(3)) lit(null).cast("long")
           else lit(p.getLong(3))).as("probe_first"),
          lit(idx.inputFiles.nonEmpty).as("probe_from_disk"),
          lit(bitsAfter > bits0).as("rebanded_mid_stream"))
      } finally Relational.deleteRecursive(drop)
    }),

    // The recall readout of the exact/scaled pairing (the q_ann_recall
    // move applied to dedup): run both algorithms on the same corpus
    // and reduce the agreement to one row — n_exact, n_scaled, n_both,
    // and recall in ppm by integer division. Because the scaled dup
    // set is a SUBSET of the exact one (SemanticDedupSpec pins it),
    // this is precisely the LSH candidate-recall trade, quantified
    // under the oracle gate every round. At production scale the exact
    // side is measured on a SAMPLE, not the corpus (it is the
    // super-linear pipeline); here the corpora are small enough to
    // audit in full.
    "q_dedup_semantic_recall" -> ((s, d) => {
      val ex = queries("q_dedup_semantic")(s, d)
        .select(col("vec_id"), col("is_dup").as("de"))
      val sc = queries("q_dedup_semantic_scaled")(s, d)
        .select(col("vec_id"), col("is_dup").as("dsc"))
      ex.join(sc, Seq("vec_id"))
        .agg(sum(when(col("de"), 1L).otherwise(0L)).as("n_exact"),
          sum(when(col("dsc"), 1L).otherwise(0L)).as("n_scaled"),
          sum(when(col("de") && col("dsc"), 1L).otherwise(0L)).as("n_both"))
        .select(col("n_exact"), col("n_scaled"), col("n_both"),
          expr("CASE WHEN n_exact = 0 THEN 1000000L " +
            "ELSE n_both * 1000000L div n_exact END").as("recall_ppm"))
    }),

    // ---- E3: similarity search -----------------------------------------
    // Brute-force cosine top-k: broadcast the small query batch against
    // the candidate scan (no shuffle of the big side), bounded-state
    // top-k per query.
    "q_sim_topk" -> ((s, d) => {
      val e = embeddings(s, d).select(col("vec_id"),
        VectorOps.toDouble(col("embedding")).as("v"))
        .withColumn("nrm", VectorOps.norm(col("v")))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qn"))
      val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          (VectorOps.dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
            .as("score"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("score").desc, col("vec_id"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= TopK)
        .select(col("q_id"), col("rn").cast("long").as("rn"), col("vec_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("q_id"), col("rn"))
    }),

    // k-NN classification (the label-propagation / weak-labeling step of
    // a curation pipeline): majority vote over the exact top-10 cosine
    // neighbors, ties to the smallest label via the deterministic
    // two-step rule (max votes per query, then min label among the
    // maximal). Rides the same broadcast-query-batch ANN core as
    // q_sim_topk/q_ann_recall; the label join and vote aggs touch only
    // (query, neighbor) pairs — bounded by q*k, never the corpus.
    "q_knn_classify" -> ((s, d) => {
      val lbl = embeddings(s, d).select(col("vec_id"), col("label"))
      val votes = annExactTopK(s, d, TopK)
        .join(lbl, Seq("vec_id"))
        .groupBy(col("q_id"), col("label"))
        .agg(count(lit(1)).as("votes"))
      val best = votes.groupBy(col("q_id")).agg(max(col("votes")).as("votes"))
      votes.join(best, Seq("q_id", "votes"))
        .groupBy(col("q_id"), col("votes"))
        .agg(min(col("label")).as("pred_label"))
        .join(lbl.select(col("vec_id").as("q_id"), col("label").as("q_label")),
          Seq("q_id"))
        .select(col("q_id"), col("q_label"), col("pred_label"), col("votes"))
        .orderBy(col("q_id"))
    }),

    // Hard-negative mining (contrastive-training prep): for each query,
    // the top-5 most similar vectors with a DIFFERENT label — the
    // near-miss negatives that make embedding training work. Same
    // broadcast-query-batch scan as q_sim_topk with the label inequality
    // fused into the join predicate, so rejected candidates never reach
    // the ranking window.
    "q_hard_negatives" -> ((s, d) => {
      val e = embeddings(s, d).select(col("vec_id"), col("label"),
        VectorOps.toDouble(col("embedding")).as("v"))
        .withColumn("nrm", VectorOps.norm(col("v")))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("v").as("qv"), col("nrm").as("qn"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("score").desc, col("vec_id"))
      e.join(broadcast(q), col("label") =!= col("q_label"))
        .select(col("q_id"), col("q_label"), col("vec_id"),
          col("label").as("neg_label"),
          (VectorOps.dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
            .as("score"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= AnnK)
        .select(col("q_id"), col("rn"), col("vec_id"), col("neg_label"),
          round(col("score"), 6).as("score"))
        .orderBy(col("q_id"), col("rn"))
    }),

    // Greedy k-center coreset selection (the Sener & Savarese 2018
    // diversity-pruning move): pick 6 centers that maximize coverage of
    // the embedding space — seed = min vec_id, then 5 rounds of
    // "farthest point from the chosen set" in cosine distance, ties to
    // the smallest vec_id. Each round's radius (the distance at which
    // the previous set covered the new pick) is the shrinking coverage
    // curve a data-pruning pipeline reads. Scale shape: each round is
    // one MAP-ONLY pass (distances to a handful of literal center
    // vectors, incremental least() against the running minimum) plus a
    // global 1-row TakeOrdered — the corpus never shuffles, and the
    // driver holds only k center vectors (the sanctioned tiny-collect).
    // Float portability: distances are 1 - dot/(nrm*nrm) with the same
    // strict fold as q_sim_topk, so argmax decisions are bit-identical
    // to the DuckDB unrolled-CTE oracle; only the reported radius is
    // rounded.
    "q_coreset_kcenter" -> ((s, d) => {
      import s.implicits._
      val k = 6
      val e = embeddings(s, d).select(col("vec_id"),
          VectorOps.toDouble(col("embedding")).as("v"))
        .withColumn("nrm", VectorOps.norm(col("v")))
      def litVec(a: Seq[Double]) = array(a.map(lit): _*)
      def distTo(vec: Seq[Double], nrm: Double) =
        lit(1.0) - VectorOps.dot(col("v"), litVec(vec)) /
          (col("nrm") * lit(nrm))
      val seed = e.orderBy(col("vec_id")).limit(1)
        .select(col("vec_id"), col("v"), col("nrm")).collect()(0)
      var picks = List((1L, seed.getLong(0), 0.0))
      var cur = e.withColumn("md",
        distTo(seed.getSeq[Double](1), seed.getDouble(2)))
      for (r <- 2 to k) {
        val p = cur.orderBy(col("md").desc, col("vec_id")).limit(1)
          .select(col("vec_id"), col("md"), col("v"), col("nrm"))
          .collect()(0)
        picks ::= ((r.toLong, p.getLong(0), p.getDouble(1)))
        cur = cur.withColumn("md", least(col("md"),
          distTo(p.getSeq[Double](2), p.getDouble(3))))
      }
      picks.reverse.toDF("round", "center_id", "radius")
        .select(col("round"), col("center_id"),
          round(col("radius"), 6).as("radius"))
        .orderBy(col("round"))
    }),

    // Maximal-marginal-relevance selection (Carbonell & Goldstein 1998,
    // the diversified-retrieval / diverse-example-selection move): query
    // = vec 0, then 5 greedy picks maximizing 0.7*relevance -
    // 0.3*max-similarity-to-already-picked, ties to the smallest vec_id.
    // Same driver-loop shape as q_coreset_kcenter: each round is one
    // MAP-ONLY pass (cosines against a literal pick vector folded into
    // the running `ms` max) plus a global 1-row TakeOrdered — the corpus
    // never shuffles and the driver holds only the k pick vectors. The
    // 0.3 coefficient is its own literal (NOT 1 - 0.7, which is off by
    // one ulp in binary64), so the score doubles match the oracle's.
    "q_mmr_select" -> ((s, d) => {
      import s.implicits._
      val e = embeddings(s, d).select(col("vec_id"),
          VectorOps.toDouble(col("embedding")).as("v"))
        .withColumn("nrm", VectorOps.norm(col("v")))
      def litVec(a: Seq[Double]) = array(a.map(lit): _*)
      def cosTo(vec: Seq[Double], nrm: Double) =
        VectorOps.dot(col("v"), litVec(vec)) / (col("nrm") * lit(nrm))
      val qrow = e.filter(col("vec_id") === 0)
        .select(col("v"), col("nrm")).collect()(0)
      var cur = e.filter(col("vec_id") =!= 0)
        .withColumn("rel",
          cosTo(qrow.getSeq[Double](0), qrow.getDouble(1)))
        .withColumn("ms", lit(0.0))
      var picks = List.empty[(Long, Long, Double)]
      for (r <- 1 to MmrK) {
        val p = cur.select(col("vec_id"),
            (lit(MmrLam) * col("rel") - lit(MmrMu) * col("ms")).as("score"),
            col("v"), col("nrm"))
          .orderBy(col("score").desc, col("vec_id")).limit(1).collect()(0)
        picks ::= ((r.toLong, p.getLong(0), p.getDouble(1)))
        cur = cur.filter(col("vec_id") =!= p.getLong(0))
          .withColumn("ms", greatest(col("ms"),
            cosTo(p.getSeq[Double](2), p.getDouble(3))))
      }
      picks.reverse.toDF("rank", "vec_id", "score")
        .select(col("rank"), col("vec_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("rank"))
    }),

    // Johnson-Lindenstrauss ±1 sign projection to 8 dims (Achlioptas
    // 2003 database-friendly random projections): the cheap
    // dimensionality-reduction front of an ANN / clustering pipeline.
    // The sign matrix comes from [[projSign]]'s closed-form integer
    // formula, baked in as 8 LITERAL sign vectors, so the projection is
    // 8 codegen'd dot products — map-only, zero shuffle, and the oracle
    // regenerates the identical matrix symbolically. Output in long form
    // (vec_id, k, p) keeps the schema stable if ProjDims changes.
    "q_embed_project" -> ((s, d) => {
      val projs = (0 until ProjDims).map { k =>
        val sv = array((0 until EmbDim).map(j => lit(projSign(j, k))): _*)
        (VectorOps.dot(col("v"), sv) / sqrt(lit(8.0))).as(s"p$k")
      }
      embeddings(s, d)
        .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
        .select(col("vec_id") +: projs: _*)
        .select(col("vec_id"), posexplode(
          array((0 until ProjDims).map(k => col(s"p$k")): _*)))
        .select(col("vec_id"), col("pos").cast("long").as("k"),
          round(col("col"), 6).as("p"))
        .orderBy(col("vec_id"), col("k"))
    }),

    // Prototype-distance pruning (SSL-prototypes, Sorscher et al. 2022 /
    // the D4 recipe): per-label centroid, cosine distance of every
    // vector to its OWN centroid, keep the hardest (farthest) half of
    // each label — dropping the most prototypical examples is the
    // data-pruning schedule that beats random at scale. Centroid
    // component sums are DECIMAL(18,9) (the q_kmeans_step move) so the
    // means cannot drift with partitioning; the tiny per-label centroid
    // relation is BROADCAST back and the distance pass is map-only. The
    // keep rule is rn*2 <= cnt (integer arithmetic — no float ratio).
    "q_prune_prototypes" -> ((s, d) => {
      val e = embeddings(s, d).select(col("vec_id"), col("label"),
          VectorOps.toDouble(col("embedding")).as("v"))
        .withColumn("nrm", VectorOps.norm(col("v")))
      val cent = e.select(col("label"), posexplode(col("v")))
        .select(col("label"), col("pos").as("dim"),
          col("col").cast(org.apache.spark.sql.types.DecimalType(18, 9))
            .as("xd"))
        .groupBy(col("label"), col("dim"))
        .agg((sum(col("xd")).cast("double") / count(lit(1))).as("m"))
        .groupBy(col("label"))
        .agg(transform(
          array_sort(collect_list(struct(col("dim"), col("m")))),
          x => x.getField("m")).as("cv"))
        .withColumn("cn", VectorOps.norm(col("cv")))
      e.join(broadcast(cent), Seq("label"))
        .select(col("vec_id"), col("label"),
          (lit(1.0) - VectorOps.dot(col("v"), col("cv"))
            / (col("nrm") * col("cn"))).as("dist"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("label"))
            .orderBy(col("dist").desc, col("vec_id"))).cast("long"))
        .withColumn("cnt",
          count(lit(1)).over(Window.partitionBy(col("label"))))
        .select(col("vec_id"), col("label"),
          round(col("dist"), 6).as("dist"), col("rn"),
          (col("rn") * 2 <= col("cnt")).as("kept"))
        .orderBy(col("vec_id"))
    }),

    // Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003, the MOSS
    // document-fingerprint scheme): hash every K-token gram, slide a
    // W-gram window, keep each window's minimal hash (rightmost on
    // ties), distinct the survivors — a position-robust fingerprint set
    // whose density is guaranteed ~2/(W+1). The rightmost-argmin per
    // window is ONE packed-long max() in a hash aggregate — pk =
    // (2^31-1 - h)*2^32 + pos makes plain max() compute (min h, max
    // pos) — the q_dedup_keep_best move, so no struct/SortAggregate and
    // no per-window sort. Shuffles carry only (doc, window, packed-long)
    // triples — W 8-byte copies per gram, never text. Output is the
    // per-doc fingerprint profile; density in ppm by INTEGER division
    // (no float rounding hazard).
    "q_fingerprint_winnow" -> ((s, d) => {
      val grams = documents(s, d)
        .select(col("doc_id"), TextOps.shingles(col("text"), K).as("sh"))
        .select(col("doc_id"), size(col("sh")).cast("long").as("n_grams"),
          posexplode(col("sh")))
        .select(col("doc_id"), col("n_grams"),
          (col("pos") + 1).cast("long").as("p"),
          TextOps.hash31(col("col")).as("h"))
      // window starts covering gram p: [max(1, p-W+1), min(p, Q)] where
      // Q = max(1, n_grams-W+1) — short docs still get one window.
      // n_grams (functionally dependent on doc_id) rides along as a
      // grouping key — 8 bytes per shuffled row instead of a SECOND
      // full text scan + join to recover it at the end.
      val wins = grams.select(col("doc_id"), col("n_grams"),
        explode(sequence(
          greatest(lit(1L), col("p") - (WinnowW - 1)),
          least(col("p"),
            greatest(lit(1L), col("n_grams") - (WinnowW - 1))))).as("q"),
        ((lit(2147483647L) - col("h")) * lit(4294967296L) + col("p"))
          .as("pk"))
      val fp = wins.groupBy(col("doc_id"), col("n_grams"), col("q"))
        .agg(max(col("pk")).as("pk"))
        .select(col("doc_id"), col("n_grams"), col("pk")).distinct()
        .select(col("doc_id"), col("n_grams"),
          (lit(2147483647L) - shiftright(col("pk"), 32)).as("h_sel"))
      fp.groupBy(col("doc_id"), col("n_grams")).agg(
          count(lit(1)).as("n_fp"), min(col("h_sel")).as("h_min"),
          max(col("h_sel")).as("h_max"), sum(col("h_sel")).as("h_sum"))
        .select(col("doc_id"), col("n_grams"), col("n_fp"),
          expr("n_fp * 1000000 div n_grams").as("density_ppm"),
          col("h_min"), col("h_max"), col("h_sum"))
        .orderBy(col("doc_id"))
    }),

    // Matryoshka-style truncation: keep the first 16 of 64 dims and
    // renormalize — the storage/latency knob of MRL-trained embeddings.
    // Map-only; the audit values (truncated norm, first renormalized
    // component) are rounded anchors the oracle recomputes.
    "q_embed_truncate" -> ((s, d) =>
      embeddings(s, d)
        .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
        .select(col("vec_id"), slice(col("v"), 1, 16).as("t"))
        .select(col("vec_id"), VectorOps.norm(col("t")).as("tn"),
          element_at(col("t"), 1).as("t0"))
        .select(col("vec_id"), round(col("tn"), 6).as("trunc_norm"),
          round(when(col("tn") === 0.0, 0.0)
            .otherwise(col("t0") / col("tn")), 6).as("u0"))
        .orderBy(col("vec_id"))),

    // LSH-bucketed ANN (the scale path): candidates come from an
    // equi-join on the sign-bucket key instead of a full cross product.
    "q_ann_lsh" -> ((s, d) => {
      val e = embeddings(s, d).select(col("vec_id"),
        VectorOps.toDouble(col("embedding")).as("v"))
        .withColumn("nrm", VectorOps.norm(col("v")))
        .withColumn("bkt", VectorOps.signBucket(col("v"), AnnBits))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qn"), col("bkt").as("q_bkt"))
      val scored = e.join(broadcast(q),
          col("bkt") === col("q_bkt") && col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          (VectorOps.dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
            .as("score"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("score").desc, col("vec_id"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= AnnK)
        .select(col("q_id"), col("rn").cast("long").as("rn"), col("vec_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("q_id"), col("rn"))
    }),

    // IVF-style ANN (the other scale path): a coarse quantizer assigns
    // every vector to its nearest cell center; search scans only the
    // query's cell. Cell centers here are deterministic medoids (the
    // min-vec_id vector per label) so the oracle reproduces the index
    // exactly — a k-means quantizer drops in without changing the shape.
    // Centers broadcast (they are few); assignment is one map-side
    // argmax per vector; search is an equi-join on cell id.
    "q_ann_ivf" -> ((s, d) => annIvfTopK(s, d)),

    // IVF with nprobe>1: the recall knob. Database vectors still live in
    // exactly one cell; each QUERY probes its NProbe nearest cells, so
    // the search set grows per query without touching the index. The
    // probe list is a broadcast-side explosion (|queries| x NProbe rows),
    // the 100 TB side is still one equi-join on cell id.
    "q_ann_ivf_nprobe" -> ((s, d) => {
      // ONE quantizer lineage (ivfScoredCells) feeds both the index
      // cells and the probe list, so exchange reuse fires on the
      // shared subtree and the two sides cannot use different indexes
      val scoredCells = ivfScoredCells(s, d)
      val assigned = ivfCells(scoredCells)
      val qProbes = scoredCells
        .filter(col("vec_id") < 5 && col("cell_rn") <= NProbe)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qn"), col("rep_id").as("probe_cell"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("score").desc, col("vec_id"))
      assigned.join(broadcast(qProbes),
          col("cell") === col("probe_cell") && col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          (VectorOps.dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
            .as("score"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= AnnK)
        .select(col("q_id"), col("rn").cast("long").as("rn"), col("vec_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("q_id"), col("rn"))
    }),

    // TRAINED IVF coarse quantizer — the production upgrade of
    // q_ann_ivf's medoid cells (the same move q_pq_train made for the
    // codes): cell centers are Lloyd-refined in FULL embedding space
    // (ops.KMeansFit.fitFrom, warm-started from the label medoids so
    // cell ids stay the rep vec_ids and the decimal M-step keeps the
    // fit bit-exact across engines), assignment is a squared-L2 argmin
    // against the K broadcast centers, and the gated readout scores
    // trained vs medoid cells against the exact top-5 over a 50-query
    // batch at FIXED probe cost (nprobe=1 both arms) — the recall the
    // training BUYS without touching the search plan. At scale the fit
    // is PqIters passes of (broadcast E-step + keyed M-step) and the
    // probe is the same single equi-join on cell id as q_ann_ivf.
    "q_ann_ivf_trained" -> ((s, d) => {
      val e = embeddings(s, d).select(col("vec_id"),
          VectorOps.toDouble(col("embedding")).as("v"))
        .withColumn("nrm", VectorOps.norm(col("v")))
        .localCheckpoint() // feeds init, fit, both probes, and the truth
      val init = pqReps(s, d)
        .select(col("rep_id").as("cluster"), col("rv").as("centroid"))
      val q = e.filter(col("vec_id") < PqProbeN)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qn"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("score").desc, col("vec_id"))
      val exactDf = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          (VectorOps.dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
            .as("score"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= AnnK)
        .select(col("q_id"), col("vec_id"))
      // The Lloyd fit is PqIters sequential driver-paced jobs; the exact
      // top-5 truth and the medoid-assignment checkpoint are independent
      // of it. Run them concurrently (guide §2.6) so the truth/medoid
      // jobs back-fill the fit's per-iteration tails; rows unchanged.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val (exact, cellsM, assignedT) = try {
        val ec = scala.concurrent.ExecutionContext
          .fromExecutorService(pool)
        val fE = scala.concurrent.Future(exactDf.localCheckpoint())(ec)
        val fM = scala.concurrent.Future(ivfAssignCk(s, d))(ec)
        val (aT, _) = graft.ops.KMeansFit.fitFrom(
          e.select(col("vec_id"), col("v")), "vec_id", "v", init, PqIters)
        val inf = scala.concurrent.duration.Duration.Inf
        (scala.concurrent.Await.result(fE, inf),
          scala.concurrent.Await.result(fM, inf), aT)
      } finally pool.shutdown()
      val cellsT = e.join(assignedT, Seq("vec_id"))
        .select(col("vec_id"), col("v"), col("nrm"),
          col("cluster").as("cell"))
      def topk(cells: DataFrame): DataFrame = {
        val qc = cells.join(broadcast(q), col("vec_id") === col("q_id"))
          .select(col("q_id"), col("qv"), col("qn"),
            col("cell").as("q_cell"))
        cells.join(broadcast(qc),
            col("cell") === col("q_cell") && col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"),
            (VectorOps.dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
              .as("score"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= AnnK)
          .select(col("q_id"), col("vec_id"))
      }
      val hm = exact.join(topk(cellsM), Seq("q_id", "vec_id"), "left_semi")
        .agg(count(lit(1)).as("hits_medoid"))
      val ht = exact.join(topk(cellsT), Seq("q_id", "vec_id"), "left_semi")
        .agg(count(lit(1)).as("hits_trained"))
      hm.crossJoin(ht).select(
        lit(PqProbeN.toLong).as("n_q"),
        col("hits_medoid"), col("hits_trained"),
        round(col("hits_medoid").cast("double") / (PqProbeN * AnnK), 6)
          .as("recall_medoid"),
        round(col("hits_trained").cast("double") / (PqProbeN * AnnK), 6)
          .as("recall_trained"))
    }),

    // ---- benchmark decontamination --------------------------------------
    // Flag training docs sharing any DecontK-gram with the held-out eval
    // set (doc_id % EvalMod == 0) — the standard train/test contamination
    // sweep. Shingles are hashed to 31-bit ints so the join shuffles
    // 8-byte keys, never text; the eval side (benchmarks are small) is
    // distinct-collapsed and BROADCAST, so the 100 TB train scan joins
    // without shuffling at all.
    "q_decontaminate" -> ((s, d) => {
      // materialized once: the hashed-shingle relation feeds BOTH the
      // eval-set distinct and the train-side filter, and the explode +
      // md5 pass is the expensive part (same move as q_substring_dup)
      val sh = documents(s, d)
        .select(col("doc_id"),
          explode(TextOps.distinctShingles(col("text"), DecontK)).as("sh"))
        .select(col("doc_id"), TextOps.hash31(col("sh")).as("h"))
        .localCheckpoint()
      val evalSet = sh.filter(col("doc_id") % EvalMod === 0)
        .select(col("h")).distinct()
      sh.filter(col("doc_id") % EvalMod =!= 0)
        .join(broadcast(evalSet), Seq("h"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hit_ngrams"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-style repetition metric: duplicate-2-gram fraction per doc.
    // Pure per-row map work (shuffle-free); the flag thresholds the
    // ROUNDED fraction so the comparison is engine-portable.
    "q_text_repetition" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          TextOps.let(TextOps.shingles(col("text"), 2)) { gs =>
            struct(
              size(gs).cast("long").as("n_grams"),
              size(array_distinct(gs)).cast("long").as("n_distinct"))
          }.as("g"))
        .select(col("doc_id"),
          col("g.n_grams").as("n_grams"),
          col("g.n_distinct").as("n_distinct"),
          round(lit(1.0) - col("g.n_distinct").cast("double") /
            col("g.n_grams"), 6).as("dup_frac"))
        .withColumn("repetitive", col("dup_frac") > 0.2)
        .orderBy(col("doc_id"))),

    // Snapshot drift detection (the monitoring primitive a daily-crawl
    // pipeline runs between yesterday's and today's corpus): per-bucket
    // chi-square terms over the document-length histogram, with the
    // even/odd doc_id split standing in for the two snapshots. All
    // arithmetic is rational (no ln), the expected count is the fixed
    // shape (tot_new * n_base / tot_base), and the statistic stays
    // PER-BUCKET — a cross-bucket float sum would be partitioning-
    // ordered, and the per-bucket worklist ("which length bands
    // drifted") is the actionable readout anyway. Buckets unseen in the
    // base snapshot have no expectation and flag as new_bucket. Scale:
    // two map-side-combined counts over the corpus; everything after is
    // histogram-sized.
    "q_drift_chi2" -> ((s, d) => {
      val snapped = documents(s, d).select(
        when(col("doc_id") % 2 === 0, lit("base")).otherwise(lit("new"))
          .as("snap"),
        expr("n_chars div 100").as("bucket"))
      val counts = snapped.groupBy(col("snap"), col("bucket"))
        .agg(count(lit(1)).as("n"))
      val a = counts.filter(col("snap") === "base")
        .select(col("bucket"), col("n").as("n_base"))
      val b = counts.filter(col("snap") === "new")
        .select(col("bucket"), col("n").as("n_new"))
      val tot = counts.groupBy()
        .agg(sum(when(col("snap") === "base", col("n"))).as("tot_base"),
          sum(when(col("snap") === "new", col("n"))).as("tot_new"))
      val joined = a.join(b, Seq("bucket"), "full")
        .select(col("bucket"),
          coalesce(col("n_base"), lit(0L)).as("n_base"),
          coalesce(col("n_new"), lit(0L)).as("n_new"))
        .crossJoin(broadcast(tot))
      val e = col("tot_new").cast("double") * col("n_base") / col("tot_base")
      val term = (col("n_new") - e) * (col("n_new") - e) / e
      joined
        .select(col("bucket"), col("n_base"), col("n_new"),
          when(col("n_base") > 0, round(term, 6)).as("chi2"),
          (col("n_base") === 0 ||
            when(col("n_base") > 0, round(term, 6)) > 6.63).as("drifted"))
        .orderBy(col("bucket"))
    }),

    // Two-sample Kolmogorov-Smirnov drift statistic on a fixed 256-cell
    // grid (click vs view event values standing in for yesterday/today):
    // D is the max ECDF gap evaluated AT THE GRID BOUNDARIES — a
    // well-defined contract that keeps the cumulative window bounded at
    // 256 rows no matter the corpus (the exact-at-every-point form
    // needs a global sort over distinct values; the grid form is what a
    // monitoring pipeline runs at 100 TB). The gap comparison is pure
    // integer: max |cum1*n2 - cum2*n1| over cells, divided once at the
    // end — no fp fold anywhere, so the statistic is bit-identical
    // across engines. Complements q_drift_chi2 (distribution SHAPE over
    // meaningful bands) with a single worst-gap number.
    "q_drift_ks" -> ((s, d) => {
      val ev = events(s, d)
        .filter(col("event_type").isin("click", "view"))
        .select(col("event_type"), col("value"))
      val mm = ev.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
      val cells = ev.crossJoin(broadcast(mm))
        .select(col("event_type"),
          least(lit(255L), floor(
            (col("value") - col("lo")) * lit(256.0) /
              (col("hi") - col("lo"))).cast("long")).as("cell"))
        .groupBy(col("cell"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("c1"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("c2"))
      val wCum = Window.orderBy(col("cell"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // bounded window: at most 256 rows ever reach it
      val cum = cells
        .withColumn("cum1", sum(col("c1")).over(wCum))
        .withColumn("cum2", sum(col("c2")).over(wCum))
      val tot = cells.agg(sum(col("c1")).as("t1"), sum(col("c2")).as("t2"))
      cum.crossJoin(broadcast(tot))
        .agg(max(col("t1")).as("n1"), max(col("t2")).as("n2"),
          max(abs(col("cum1") * col("t2") - col("cum2") * col("t1")))
            .as("d_num"))
        .select(col("n1"), col("n2"), col("d_num"),
          round(col("d_num").cast("double") /
            (col("n1") * col("n2")).cast("double"), 9).as("ks"))
    }),

    // k-anonymity audit over quasi-identifiers (the release-readiness
    // check a curated dataset needs next to PII scrubbing): group sizes
    // per (segment, nation) with the k>=10 safety flag — any unsafe
    // group is what a release pipeline must suppress or generalize.
    // One map-side-combined groupBy; group count is bounded by the
    // quasi-identifier domain, never the corpus.
    "q_k_anonymity" -> ((s, d) =>
      customer(s, d)
        .groupBy(col("c_mktsegment"), col("c_nationkey"))
        .agg(count(lit(1)).as("n"))
        .select(col("c_mktsegment"),
          col("c_nationkey").cast("long").as("c_nationkey"), col("n"),
          (col("n") >= 10).as("k_safe"))
        .orderBy(col("c_mktsegment"), col("c_nationkey"))),

    // PII scrub: count + redact emails and phone-like tokens. The PII is
    // synthesized deterministically per doc (the corpus has none) so both
    // engines scrub identical input; patterns are restricted to the
    // regex-dialect intersection (no lookarounds) of Java and RE2.
    "q_text_pii" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"), lit("@example.com or 555-010"),
            col("doc_id").cast("string")).as("synth"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("synth"), lit(EmailRe), lit(0)))
            .cast("long").as("n_emails"),
          size(regexp_extract_all(col("synth"), lit(PhoneRe), lit(0)))
            .cast("long").as("n_phones"),
          // Column API only: routing the pattern through expr()'s SQL
          // string literal would strip the backslashes ('\d' -> 'd').
          right(
            regexp_replace(
              regexp_replace(col("synth"), lit(EmailRe), lit("<EMAIL>")),
              lit(PhoneRe), lit("<PHONE>")),
            lit(60)).as("scrub_tail"))
        .orderBy(col("doc_id"))),

    // Mixture sampling (per-source rates): every training-data recipe
    // weights its sources ("2 parts web, 1 part code, ..."). The keep
    // decision is a pure hash-threshold function of (doc_id, source) —
    // reproducible on any engine and any partitioning, map-side only.
    // Rates are derived from the source id so the oracle shares them.
    "q_source_mix" -> ((s, d) =>
      documents(s, d)
        .select(col("source"), col("doc_id"),
          (TextOps.hash31(col("doc_id").cast("string")) % 1000).as("h"),
          (lit(250) + TextOps.hash31(col("source")) % 500).as("rate_pm"))
        .filter(col("h") < col("rate_pm"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), min(col("rate_pm")).as("rate_pm"))
        .orderBy(col("source"))),

    // Stratified sampling: first StratN docs per language by portable
    // hash order (md5 of the id — a deterministic uniform shuffle both
    // engines reproduce). One shuffle on lang; bounded per-group state.
    "q_sample_stratified" -> ((s, d) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      documents(s, d)
        .select(col("lang"), col("doc_id"), col("n_chars"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= StratN)
        .orderBy(col("lang"), col("rn"))
    }),

    // Training-sequence packing (concat-and-chunk): docs are laid out in
    // portable-hash order within PackShards independent shards; each
    // doc's running token offset places it in sequence cum/PackTarget at
    // offset cum%PackTarget. Shards make the layout embarrassingly
    // parallel — the window never crosses a shard, so packing 100 TB is
    // PackShards independent linear passes (scale the constant with the
    // cluster), at the cost of at most one ragged tail sequence per shard.
    "q_pack_chunks" -> ((s, d) => {
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("ord"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      documents(s, d)
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
          (TextOps.hash31(col("doc_id").cast("string")) % PackShards)
            .as("shard"),
          md5(col("doc_id").cast("string")).as("ord"))
        .withColumn("cum", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .select(col("doc_id"), col("shard"),
          expr(s"cum div $PackTarget").as("seq_id"),
          (col("cum") % PackTarget).as("offset_in_seq"),
          col("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    // Length-bucketed batching (padding-efficiency batching): docs are
    // grouped into fixed-size training batches of SIMILAR token length —
    // the standard move that keeps per-batch padding (n_docs x max_len -
    // sum_len) small. Bucket = n_tokens div 32; within a bucket docs take
    // a deterministic hash order and chunk into batches of 16; the
    // readout is per-batch padding waste. Scale shape: one shuffle keyed
    // by length bucket (bounded skew by construction — bucket width caps
    // how many distinct lengths share a partition), windows parallel
    // over buckets, aggregation map-side.
    "q_batch_by_length" -> ((s, d) => {
      val w = Window.partitionBy(col("bucket"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      documents(s, d)
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        .withColumn("bucket", expr("n_tokens div 32"))
        .withColumn("rn", row_number().over(w).cast("long"))
        // 1e12 stride: the composite key collides only past 16e12 docs
        // PER BUCKET (a 1e5 stride saturates at 1.6 M — real at 100 TB),
        // and bucket * 1e12 stays far under Long.Max for any real token
        // length (bucket = n_tokens div 32)
        .withColumn("batch_id",
          col("bucket") * lit(1000000000000L) + expr("(rn - 1) div 16"))
        .groupBy(col("batch_id"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("n_tokens")).as("max_tokens"),
          sum(col("n_tokens")).as("sum_tokens"))
        .select(col("batch_id"), col("n_docs"), col("max_tokens"),
          col("sum_tokens"),
          round(lit(1.0) - col("sum_tokens").cast("double")
            / (col("n_docs") * col("max_tokens")).cast("double"), 6)
            .as("pad_waste"))
        .orderBy(col("batch_id"))
    }),

    // Corpus-level source similarity via MERGEABLE minhash union
    // sketches: sig(A ∪ B)[i] = min(sig(A)[i], sig(B)[i]), so each
    // source's shingle UNIVERSE collapses to NumHashes ints in one
    // plain hash aggregate over the per-doc native signatures —
    // positionwise MIN is associative/commutative, hence map-side
    // partials and partitioning-independence for free. The pairwise
    // estimated vocabulary Jaccard then runs on |sources| sketch rows,
    // never on documents: the cross-corpus overlap readout (which
    // crawl sources duplicate each other) at 100 TB costs one scan.
    "q_source_similarity" -> ((s, d) => {
      val perDoc = documents(s, d).select(col("source"),
        graft.functions.MinHashSig(col("text"), K, NumHashes).as("sig"))
      val mins = (0 until NumHashes).map(i =>
        min(element_at(col("sig"), i + 1)).as(s"m$i"))
      val sk = perDoc.groupBy(col("source"))
        .agg(mins.head, mins.tail: _*)
        .select(col("source"),
          array((0 until NumHashes).map(i => col(s"m$i")): _*).as("ssig"))
      sk.as("a").join(sk.as("b"), col("a.source") < col("b.source"))
        .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
          aggregate(zip_with(col("a.ssig"), col("b.ssig"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
            lit(0L), (acc, c) => acc + c).as("n_agree"))
        .withColumn("est_jaccard",
          round(col("n_agree").cast("double") / NumHashes, 6))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // Cross-source dedup accounting: the provenance readout of the
    // near-dup pair graph — how many verified near-dup pairs connect
    // each (source, source) combination, the "which crawls duplicate
    // each other" report that decides what to re-crawl or drop. Reuses
    // the memoized verified-pair graph; the pair relation (tiny) probes
    // the documents projection on its base ids, so the corpus is
    // scanned, never reshuffled, and the aggregate runs on pair rows.
    "q_dedup_cross_source" -> ((s, d) => {
      val src = documents(s, d).select(col("doc_id").as("bid"), col("source"))
      // map pair ids back to base docs via the STRUCTURAL (doc_id ->
      // base_id) relation, not id arithmetic: the +100000 synthetic-id
      // convention is an id-generation detail, and threshold map-back
      // would wrongly remap genuine ids >= 100000 (present in the 100x
      // stress corpora). Only the synthetic rows remap, so the mapping
      // is a bounded broadcast (20 rows) and the pair rows still probe
      // the documents projection without reshuffling it.
      val synth = docsWithNearDups(s, d)
        .filter(col("doc_id") =!= col("base_id"))
        .select(col("doc_id"), col("base_id"))
      val base = verifiedPairs(s, d)
        .join(broadcast(synth.select(col("doc_id").as("id_a"),
          col("base_id").as("ma"))), Seq("id_a"), "left")
        .join(broadcast(synth.select(col("doc_id").as("id_b"),
          col("base_id").as("mb"))), Seq("id_b"), "left")
        .select(coalesce(col("ma"), col("id_a")).as("ba"),
          coalesce(col("mb"), col("id_b")).as("bb"))
      base
        .join(src.select(col("bid").as("ba"), col("source").as("sa")), "ba")
        .join(src.select(col("bid").as("bb"), col("source").as("sb")), "bb")
        .select(least(col("sa"), col("sb")).as("src_a"),
          greatest(col("sa"), col("sb")).as("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // Per-source quality gate (adaptive per-domain quality flooring):
    // keep each source's top quartile by composite quality score —
    // greatest(1, n div 4) docs per source by (score desc, id) — and
    // report the kept count plus the effective threshold. The integer
    // keep rule avoids percentile interpolation entirely, so the gate
    // is deterministic and cross-engine exact.
    //
    // Scale shape: the readout is pure value-at-rank — n_kept is
    // greatest(1, n div 4) BY DEFINITION, and the threshold (min kept
    // score) is the score at descending rank n_kept, i.e. ascending
    // 0-based rank n - n_kept, tie-order invariant — so the gate rides
    // the ranged rank-selection core instead of two corpus-wide
    // windows partitioned by source (which cap parallelism at the
    // source count and sort a 10 TB source on one task): per-(source,
    // bucket) counts locate each source's target bucket, ONLY those
    // buckets sort, and everything else is filtered before the window.
    // The scored relation is materialized once — the production scores
    // table, the same move as q_token_budget_select. Measured at 100x
    // (500 k docs): exponent 0.68 -> 0.55; at this corpus size the
    // materialization slightly outweighs the window saving in absolute
    // seconds (10.9 -> 12.9 s) — the trade buys the STRUCTURAL bound:
    // per-source work is now capped by bucket width, not source size,
    // which is what survives a single 10 TB source.
    "q_quality_gate_per_source" -> ((s, d) => {
      val scored = qualityScored(documents(s, d))
        .select(col("source"), col("score"))
        .localCheckpoint()
      val (data, offs) = Relational.rangedCore(scored, Seq("source"), "score")
      val perSrc = offs.groupBy(col("source")).agg(max(col("_n")).as("_nd"))
        .withColumn("n", col("_nd").cast("long"))
        .withColumn("k", greatest(lit(1L), expr("n div 4")))
        .withColumn("_r", (col("n") - col("k")).cast("double"))
      val targets = perSrc
        .join(offs.select(col("_pid"), col("source"), col("_off"),
          col("_c").cast("double").as("_cd")), Seq("source"))
        .filter(col("_r") >= col("_off") &&
          col("_r") < col("_off") + col("_cd"))
        .select(col("source"), col("_pid"), col("_off"), col("_r"),
          col("n"), col("k"))
      val wLocal = Window.partitionBy(col("_pid"), col("source"))
        .orderBy(col("score"))
      data.join(broadcast(targets), Seq("source", "_pid"))
        .withColumn("_lrn", row_number().over(wLocal).cast("double"))
        .filter(col("_lrn") === col("_r") - col("_off") + 1)
        .select(col("source"), col("n").as("n_docs"), col("k").as("n_kept"),
          col("score").as("threshold"))
        .orderBy(col("source"))
    }),

    // Global token-budget selection ("fill a 10B-token budget with the
    // best documents"): keep docs in (quality score desc, doc_id) order
    // until the kept token count reaches 25% of the corpus total. The
    // naive form is a cumulative sum over ONE global sort — the classic
    // scale killer. This plan never sorts the corpus, and no window ever
    // spans a corpus-sized partition:
    //  1. scores are rounded to 6 (finitely many values), so a per-score
    //     token HISTOGRAM (tiny, map-side partials) carries the running
    //     offsets; groups whose offset already exceeds the budget are
    //     FILTERED OUT before any per-doc work (rank-selection pushdown,
    //     the exact quantile-core move);
    //  2. groups that fit ENTIRELY under the budget (off + stoks <=
    //     budget) are kept wholesale — a broadcast semi-join, no window
    //     at all; by cumulative-offset construction at most ONE group
    //     straddles the budget;
    //  3. only that boundary group computes per-doc prefixes, and its
    //     prefix is DISTRIBUTED over doc_id range buckets by the
    //     weighted rank core (sampled boundaries -> codegen'd bucket
    //     index -> per-bucket token offsets): the per-doc window
    //     partitions by (score, bucket), so even a 100 TB boundary
    //     group sorts RangeBuckets-wide, never on one task. A doc is
    //     kept iff its exclusive global prefix (better scores' tokens +
    //     lower buckets' tokens + same-bucket earlier ids' tokens) is
    //     below the budget — bucket-decomposition of the same sum, so
    //     results and hashes are identical to the single-window form.
    "q_token_budget_select" -> ((s, d) => {
      // the scored relation feeds FOUR consumers (histogram, contained
      // keep, boundary sample, boundary prefix) — materialize it once:
      // a (doc_id, score, n_tokens) row is ~24 bytes, so at a 100 TB
      // corpus this is a ~1%-of-corpus scores table, exactly what a
      // production curation pipeline writes and reuses; recomputing the
      // shingle-based quality score per consumer would quadruple the
      // expensive corpus pass (measured: x1 6.3 s -> 2.1 s, 100x
      // exponent 0.67 -> sub-0.5). localCheckpoint is the single-JVM
      // stand-in for that table write, deliberately INSIDE the query so
      // stress passes pay the build every time.
      val scored = qualityScored(documents(s, d))
        .select(col("doc_id"), col("score"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        .localCheckpoint()
      val hist = scored.groupBy(col("score"))
        .agg(sum(col("n_tokens")).as("stoks"))
      // unpartitioned window over the DISTINCT-SCORE histogram only
      // (bounded-by-construction; PlanAuditSpec pins the row count)
      val wOff = Window.orderBy(col("score").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = hist
        .crossJoin(broadcast(hist.agg(sum(col("stoks")).as("tot"))))
        .withColumn("off", coalesce(sum(col("stoks")).over(wOff), lit(0L)))
        .withColumn("budget", expr("tot div 4"))
        .filter(col("off") < col("budget")) // prune below any per-doc work
        .select(col("score"), col("stoks"), col("off"), col("budget"))
      val contained = offs.filter(col("off") + col("stoks") <= col("budget"))
      val boundary = offs.filter(col("off") + col("stoks") > col("budget"))
      val keptContained = scored
        .join(broadcast(contained.select(col("score"))), Seq("score"))
        .select(col("doc_id"), col("score"), col("n_tokens"))
      val bdocs = scored.join(broadcast(boundary.select(col("score"))),
        Seq("score"))
      val (bdata, boffs) = Relational.rangedCore(
        bdocs.select(col("score"), col("doc_id"), col("n_tokens")),
        Seq("score"), "doc_id", weight = Some("n_tokens"))
      val wSame = Window.partitionBy(col("score"), col("_pid"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val keptBoundary = bdata
        .join(broadcast(boffs.select(col("score"), col("_pid"),
          col("_off"))), Seq("score", "_pid"))
        .join(broadcast(boundary.select(col("score"), col("off"),
          col("budget"))), Seq("score"))
        .withColumn("prefix", col("off") + col("_off")
          + coalesce(sum(col("n_tokens")).over(wSame), lit(0L)))
        .filter(col("prefix") < col("budget"))
        .select(col("doc_id"), col("score"), col("n_tokens"))
      keptContained.unionByName(keptBoundary).orderBy(col("doc_id"))
    }),

    // ---- E5: text analysis ---------------------------------------------
    "q_text_stats" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          TextOps.langId(col("text")).as("lang_pred"),
          round(TextOps.alphaRatio(col("text")), 6).as("alpha_ratio"),
          round(TextOps.stopwordRatio(col("text")), 6).as("stop_ratio"),
          round(TextOps.meanTokenLen(col("text")), 6).as("mean_tok_len"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
          TextOps.bpeTokenCount(col("text")).as("n_bpe"))
        .orderBy(col("doc_id"))),

    // Language-ID evaluation: confusion matrix of predicted vs labeled
    // language (the corpus text is synthetic English-ish word soup, so
    // the matrix mostly shows en/und against every label — the point is
    // the groupBy shape and the deterministic classifier).
    "q_text_langdist" -> ((s, d) =>
      documents(s, d)
        .groupBy(col("lang"), TextOps.langId(col("text")).as("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("lang_pred"))),

    // The canonical corpus quality-filter chain: every rule evaluated
    // per doc, kept flag plus the concatenated reject reasons (keeping
    // reasons is what makes 100 TB filter sweeps debuggable). Pure
    // map-side — no shuffle before the final order.
    "q_text_filter" -> ((s, d) => {
      val rules = Seq(
        ("short", size(TextOps.tokens(col("text"))) < 10),
        ("low_alpha", TextOps.alphaRatio(col("text")) < 0.7),
        ("no_stopwords", TextOps.stopwordRatio(col("text")) <= 0.0),
        ("long_tokens", TextOps.meanTokenLen(col("text")) > 12.0))
      val reasons = concat_ws(",", rules.map { case (name, cond) =>
        when(cond, name).otherwise(null) }: _*)
      documents(s, d)
        .select(col("doc_id"), reasons.as("reject_reasons"))
        .withColumn("kept", col("reject_reasons") === "")
        .orderBy(col("doc_id"))
    }),

    // Inverted index build (term -> sorted postings list): the IR-side
    // twin of the vocabulary count. Postings are collected then SORTED
    // (never trust distributed arrival order) and capped — emit the cap
    // explicitly as n_docs so truncation is visible, not silent.
    "q_inverted_index" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), explode(TextOps.distinctTokens(col("text")))
          .as("term"))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("n_docs"),
          array_join(
            slice(array_sort(collect_list(col("doc_id"))), 1, 20), ",")
            .as("postings_head"))
        .orderBy(col("term"))),

    // Corpus token frequencies (explode -> groupBy; the classic
    // vocabulary-count shuffle, partial-aggregated map-side).
    "q_text_tokens" -> ((s, d) =>
      documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .orderBy(col("tok"))),

    // BPE-style regex pre-tokenization (the GPT-2 pre-tokenizer shape,
    // written lookahead-free so Spark's Java regex and DuckDB's RE2
    // segment identically): a run of letters / digits / punctuation
    // each claims one preceding space, multi-space runs stand alone.
    // This is the segmentation every byte-pair tokenizer applies
    // before merges — the unit "token count" budgets (context packing,
    // cost estimates) are quoted in. Per doc: total pre-tokens and the
    // class mix. One map-side explode + per-doc aggregate — a single
    // pass at any corpus size.
    "q_tokens_bpe" -> ((s, d) => {
      val pat = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +"
      documents(s, d)
        .select(col("doc_id"),
          explode(regexp_extract_all(lower(col("text")), lit(pat), lit(0)))
            .as("t"))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_tokens"),
          count(when(col("t").rlike("^ ?[a-z]"), 1)).as("n_word"),
          count(when(col("t").rlike("^ ?[0-9]"), 1)).as("n_num"),
          count(when(col("t").rlike("^ ?[^a-z0-9 ]"), 1)).as("n_punct"),
          // \z, not $: Java's $ would also accept " \n" (matching
          // before the final line terminator) where the oracle's RE2 $
          // would not — same latent divergence class fixed in
          // q_bpe_merges
          count(when(col("t").rlike("^ +\\z"), 1)).as("n_space"))
        .orderBy(col("doc_id"))
    }),

    // BPE merge training (Sennrich et al. 2016, the tokenizer-induction
    // step): three greedy merge rounds over the corpus, each picking the
    // highest-weight adjacent symbol pair (weight = sum of word-type
    // frequencies per occurrence; ties to the lexicographically first
    // pair) and fusing it corpus-wide. The classic trainer trick keeps
    // this corpus-scale: statistics run over distinct WORD TYPES with
    // frequencies, never the token stream, so the relation is vocabulary-
    // sized. Merge application is pure windows — greedy leftmost
    // non-overlap via gaps-and-islands (runs of consecutive matches
    // merge at even offsets), the matched symbol's right neighbor drops
    // via lag() — because a string replace() would hinge on each
    // engine's overlap semantics, and windows are deterministic in both.
    // Each round's one-row top-pair pick is the sanctioned tiny collect
    // (coreset/range-partitioner pattern); the per-round symbol relation
    // is checkpointed so round r+1 does not replay rounds 1..r.
    "q_bpe_merges" -> ((s, d) => {
      import s.implicits._
      // the last round's pick needs no merge application: nothing
      // reads the post-round-3 symbol relation
      bpeTrain(s, d, rounds = 3, applyLast = false)._1
        .toDF("round", "lhs", "rhs", "weight")
        .orderBy(col("round"))
    }),

    // BATCHED BPE training ([[bpeTrainBatched]]): up to BpeBatchN
    // mutually-disjoint merges selected and applied per PASS, bounding
    // the driver loop at jobs-per-merge -> 1/BpeBatchN — the move that
    // keeps a production 32k-merge vocabulary off the sequential
    // trainer's one-job-per-merge ceiling. The conservative disjoint
    // rule (drop any candidate sharing a symbol with a higher-ranked
    // candidate) is replayed by the oracle as a bounded anti-join over
    // the same top-BpeTopM candidate relation, so the gated rows pin
    // selection, order, weights, AND the batched apply. BpeSpec pins
    // the semantic relationship to the sequential trainer on this
    // corpus.
    "q_bpe_merges_batched" -> ((s, d) => {
      import s.implicits._
      bpeTrainBatched(s, d, passes = BpePasses, batchN = BpeBatchN,
          topM = BpeTopM)
        .toDF("round", "lhs", "rhs", "weight")
        .orderBy(col("round"))
    }),

    // BPE ENCODE — the apply half of the train/apply lifecycle: run the
    // trained merges over the word-TYPE relation and emit the top-50
    // words (freq desc) with their post-merge symbol streams. The scale
    // claim is the same Heaps-law move as training: encoding 100 TB
    // never touches the token stream — the vocabulary relation encodes
    // once, and a production pipeline broadcast-joins word -> encoding
    // back onto the corpus (the q_decontaminate shape). Degenerate
    // corpora whose words fully merge before the last round emit an
    // empty relation in BOTH engines (the oracle's per-round LIMIT 1
    // CTEs go empty, and the engine mirrors that rather than returning
    // a half-trained encoding).
    "q_bpe_encode" -> ((s, d) => {
      val (merges, syms) = bpeTrain(s, d, rounds = 3, applyLast = true)
      val full = if (merges.length == 3) syms else syms.filter(lit(false))
      full.groupBy(col("w"), col("freq"))
        .agg(count(lit(1)).as("n_syms"),
          array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("sym")))),
            _.getField("sym")), " ").as("encoded"))
        .orderBy(col("freq").desc, col("w")).limit(50)
    }),

    // Temperature-scaled mixing weights (the UNIMAX / alpha-sampling
    // move a multilingual data pipeline applies): per-language
    // sampling weight ∝ n_docs^alpha at alpha=0.5, upweighting tail
    // languages relative to raw frequency. The arithmetic stays
    // engine-exact by construction: sqrt is correctly-rounded IEEE in
    // both engines, each weight floor-quantizes to an integer
    // INDEPENDENTLY (never a cross-group float sum, whose order would
    // be partitioning-dependent), and the final share is integer
    // division over the exact integer total — bit-identical at any
    // partitioning or scale. The total joins back via a broadcast
    // 1-row cross join (deliberate BroadcastNestedLoopJoin).
    "q_mix_temperature" -> ((s, d) => {
      val counts = documents(s, d).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("w",
          floor(sqrt(col("n_docs").cast("double")) * 1e6).cast("long"))
      val tot = counts.agg(sum(col("w")).as("tw"))
      counts.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_docs"),
          expr("w * 1000000L div tw").as("share_ppm"))
        .orderBy(col("lang"))
    }),

    // DSIR-shaped data selection (hashed n-gram importance weighting,
    // after Xie et al., "Data Selection for Language Models via
    // Importance Resampling", 2023): score each document by how much
    // more likely its hashed-bigram features are under a target corpus
    // (here the 'en' slice) than under the raw corpus, keep the top-K.
    // Features are hash31(bigram) mod 1024 buckets; both bucket models
    // add-1 smoothed. Portability discipline (the BM25/TF-IDF rule in
    // this file): the per-bucket importance is the smoothed RATIO
    // floor-quantized to micro-units via nested integer division — not
    // its log — so the per-doc accumulation is exact BIGINT arithmetic
    // with no ln() and no float summation order; the ranking it induces
    // is the high-vs-low importance ordering DSIR resamples from. Scale
    // shape: the corpus explodes exactly TWICE — once to build the
    // bucket models (materialized through the checkpoint below), once
    // to score — and never reshuffles; the raw and target models are
    // one conditional-sum aggregate, and the 1024-row weight table
    // broadcasts back onto the per-doc counts.
    // (s_raw + B) * 1e6 stays in long up to ~9e12 corpus grams; past
    // that the same expressions run in DECIMAL(38,0) unchanged.
    "q_dsir_select" -> ((s, d) => {
      val B = 1024
      val pd = documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(TextOps.shingles(col("text"), 2)).as("bg"))
        .select(col("doc_id"), col("lang"),
          (TextOps.hash31(col("bg")) % B).as("b"))
        .groupBy(col("doc_id"), col("lang"), col("b"))
        .agg(count(lit(1)).as("c_doc"))
      // raw and target bucket counts in ONE aggregate (a conditional
      // sum, not a filtered second branch: a filter would be pushed
      // below pd's aggregate and the rewritten subtree would defeat
      // exchange reuse — the corpus would explode once per model), and
      // the corpus totals come from the 1024-row weight relation, not
      // another corpus pass
      // <= 1024 rows: checkpointing is ~free and stops the totals
      // aggregate below from re-running w0's whole corpus subtree
      // (lineage reuse would cost a third explode+hash pass)
      val w0 = pd.groupBy(col("b"))
        .agg(sum(col("c_doc")).as("c_raw"),
          sum(when(col("lang") === "en", col("c_doc"))).as("c_tgt"))
        .localCheckpoint()
      val tots = w0.agg(sum(col("c_raw")).as("s_raw"),
        sum(col("c_tgt")).as("s_tgt"))
      val w = w0.crossJoin(broadcast(tots))
        .select(col("b"), expr(
          s"(coalesce(c_tgt, 0L) + 1L) * " +
            s"((s_raw + $B) * 1000000L div (s_tgt + $B)) div (c_raw + 1L)")
          .as("w_micro"))
      pd.join(broadcast(w), "b")
        .groupBy(col("doc_id"))
        .agg(sum(col("c_doc")).as("n_grams"),
          sum(col("c_doc") * col("w_micro")).as("s"))
        .select(col("doc_id"), col("n_grams"),
          expr("s div n_grams").as("imp_micro"))
        .orderBy(col("imp_micro").desc, col("doc_id"))
        .limit(100)
    }),

    // Deterministic hash-based sampling: the reproducible "10% of the
    // corpus" every 100 TB dev loop needs — engine-portable (unlike
    // TABLESAMPLE/rand), stable across runs, partitioning and engines.
    "q_sample" -> ((s, d) =>
      documents(s, d)
        .filter(TextOps.hash31(col("doc_id").cast("string")) % 100 < 10)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    // Pairwise edit distance over the linear pair set (fuzzy near-dup
    // measure for short fields; both engines implement unit-cost
    // Levenshtein).
    "q_text_editdist" -> ((s, d) => {
      val t = documents(s, d).select(col("doc_id"),
        substring(col("text"), 1, 20).as("head"))
      val a = t.select(col("doc_id").as("id_a"), col("head").as("h_a"))
      val b = t.select(col("doc_id").as("id_b"), col("head").as("h_b"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"),
          levenshtein(col("h_a"), col("h_b")).cast("long").as("dist"))
        .orderBy(col("id_a"))
    }),

    // ---- E4: multimodal binary-column plumbing --------------------------
    // Opaque binary payload + typed metadata: byte length, content hash,
    // header bytes ("magic number" sniff), base64 transport encoding.
    // The decode step itself is the stubbed module (graft.ext.Multimodal).
    "q_multimodal_meta" -> ((s, d) => {
      val bin = encode(col("text"), "UTF-8")
      documents(s, d)
        .select(col("doc_id"),
          length(bin).cast("long").as("n_bytes"),
          sha2(bin, 256).as("content_sha"),
          hex(encode(substring(col("text"), 1, 16), "UTF-8")).as("head_hex"),
          base64(encode(substring(col("text"), 1, 24), "UTF-8")).as("head_b64"))
        .orderBy(col("doc_id"))
    }),

    // E4 frame fan-out, oracle-checked end to end: one media row
    // generates n frame rows through the REAL plumbing (typed Dataset ->
    // flatMap generator -> binary frames); only the codec is the
    // deterministic stub, whose byte-slicing the oracle reproduces over
    // the same BLOBs. Map-only: payloads never shuffle.
    "q_frames" -> ((s, d) =>
      Multimodal.sampleFrames(
          Multimodal.mediaFromDocuments(
            documents(s, d).select(col("doc_id"), col("text"))), 4)
        .toDF()
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          length(col("frame")).cast("long").as("n_frame_bytes"),
          hex(col("frame")).as("frame_hex"))
        .orderBy(col("doc_id"), col("frame_idx"))),

    // E4 exact MEDIA dedup: content-hash the opaque binary payload
    // (sha-256 over the blob — format-agnostic: the same bytes are the
    // same image/audio/video regardless of filename or metadata),
    // group identical payloads, keep the min-id exemplar, and emit the
    // copy-count histogram. The map-only first pass every multimodal
    // corpus dedup starts with, before any perceptual/embedding stage:
    // at 100 TB the hash-groupBy shuffles 32-byte digests, never
    // payloads. The oracle recomputes the histogram from the text the
    // fixture payload encodes, so a hash-collision mishandling or a
    // dropped group fails the row set.
    "q_dedup_media" -> ((s, d) => {
      val base = documents(s, d).select(col("doc_id"), col("text"))
      // the same payload ingested twice under different ids (a crawl
      // re-fetch / two-source overlap): every 7th doc re-keyed +1e7 —
      // the dup structure content-hash dedup exists to collapse
      val twice = base.unionByName(
        base.filter(col("doc_id") % 7 === 0)
          .withColumn("doc_id", col("doc_id") + 10000000L))
      val m = Multimodal.mediaFromDocuments(twice).toDF()
      m.select(col("doc_id"), sha2(col("media"), 256).as("h"))
        .groupBy(col("h"))
        .agg(min(col("doc_id")).as("keeper"),
          count(lit(1)).as("n_copies"))
        .groupBy(col("n_copies"))
        .agg(count(lit(1)).as("n_groups"),
          sum(col("keeper")).as("keeper_keysum"))
        .orderBy(col("n_copies"))
    }),

    // E4 "resize" stage, oracle-checked end to end: the stride-sampling
    // stub (keep every 3rd byte — standing in for pixel resample) runs
    // through the typed Dataset, and the oracle reproduces the sampled
    // payload byte-for-byte (ASCII corpus: byte == char) and checks its
    // md5. Map-only, like every codec stage.
    "q_media_resize" -> ((s, d) => {
      import s.implicits._
      Multimodal.mediaFromDocuments(
          documents(s, d).select(col("doc_id"), col("text")))
        .map(r => (r.doc_id, Multimodal.StubCodec.resize(r.media, 3)))
        .toDF("doc_id", "resized")
        .select(col("doc_id"),
          length(col("resized")).cast("long").as("n_bytes"),
          md5(col("resized")).as("resized_md5"))
        .orderBy(col("doc_id"))
    }),

    // E4 audio-style framing, oracle-checked end to end: overlapping
    // full windows (16-byte frame, 8-byte hop — the STFT input shape)
    // over the binary payload through the typed Dataset generator, with
    // an integer per-window "energy" (sum of unsigned bytes, the
    // portable stand-in for RMS over PCM) the oracle recomputes from the
    // same payload. Map-only fan-out; the ragged tail past the last full
    // window is dropped, exactly as on the oracle side.
    "q_audio_windows" -> ((s, d) =>
      Multimodal.frameWindows(
          Multimodal.mediaFromDocuments(
            documents(s, d).select(col("doc_id"), col("text"))),
          frame = 16, hop = 8)
        .toDF()
        .select(col("doc_id"), col("win_idx").cast("long").as("win_idx"),
          col("energy"))
        .orderBy(col("doc_id"), col("win_idx"))),

    // E4 "decode + featurize", oracle-checked end to end: payloads run
    // through the REAL batched-decode plumbing (typed Dataset ->
    // repartitionForDecode -> mapPartitions grouped batches — the shape
    // a vectorized decoder or GPU inference server needs), with the
    // PORTABLE stub codec (hex+md5 features) so the oracle recomputes
    // every feature value. Map-only after the decode repartition;
    // payloads shuffle once, by count not by key, staying balanced.
    "q_image_features" -> ((s, d) => {
      val feats = Multimodal.extractFeaturesPortable(
        Multimodal.repartitionForDecode( // session-sized decode fan-out
          Multimodal.mediaFromDocuments(
            documents(s, d).select(col("doc_id"), col("text")))),
        dim = 4).toDF()
      feats.select(col("doc_id"), col("n_bytes"),
          round(element_at(col("features"), 1), 6).as("f0"),
          round(element_at(col("features"), 2), 6).as("f1"),
          round(element_at(col("features"), 3), 6).as("f2"),
          round(element_at(col("features"), 4), 6).as("f3"))
        .orderBy(col("doc_id"))
    }),

    // TF-IDF top terms per doc, with a LINEAR idf (n_docs/df) instead of
    // the textbook log: ln() is not correctly-rounded in IEEE 754 (sqrt
    // and division are), so log-based scores drift between libm
    // implementations while rational scores are bit-identical in any
    // engine. Two shuffles: (doc,term) tf and term df; df re-broadcasts.
    "q_tfidf" -> ((s, d) => {
      // ONE explode -> (doc, term) tf agg; document frequency is then a
      // COUNT window over the tf rows (tf already has exactly one row
      // per (doc, term)) — no second pass over the token explosion, no
      // distinct, no df join. Two shuffles total: (doc, term) agg, term
      // window.
      val tf = documents(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val n = documents(s, d).agg(count(lit(1)).as("n_docs"))
      val wDf = Window.partitionBy(col("term"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term"))
      tf.withColumn("df", count(lit(1)).over(wDf))
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"), col("tf"),
          round((col("tf") * col("n_docs")).cast("double") / col("df"), 6)
            .as("score"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= TfIdfTopN)
        .orderBy(col("doc_id"), col("rn"))
    }),

    // SPARSE doc-doc similarity self-join through the inverted index
    // (the Elsayed/pairwise-similarity pattern): tf vectors meet ONLY
    // inside a term's postings list — pairs (a < b) emit the partial
    // product tf_a*tf_b per shared term and a groupBy sums the dot —
    // so the work is sum-over-terms of |postings|^2, never |docs|^2.
    // The scale guard every production variant ships is the DF-CUT:
    // terms in more than DfCut docs are dropped before pairing (a
    // stopword's postings list would otherwise square into the whole
    // corpus; its similarity contribution is near-uniform noise — the
    // standard trade, stated in the gate). All arithmetic is INTEGER
    // (raw tf dot products, squared-norm products), ranked by the one
    // correctly-rounded division cos2 = dot^2/(na*nb) — bit-identical
    // across engines, no fp fold order anywhere.
    "q_sim_sparse_topk" -> ((s, d) => {
      val tf = documents(s, d)
        .select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val wDf = Window.partitionBy(col("term"))
      val kept = tf.withColumn("df", count(lit(1)).over(wDf))
        .filter(col("df") <= SparseDfCut)
      val norms = kept.groupBy(col("doc_id"))
        .agg(sum(col("tf") * col("tf")).as("nrm"))
      val a = kept.select(col("term"), col("doc_id").as("doc_a"),
        col("tf").as("tf_a"))
      val b = kept.select(col("term"), col("doc_id").as("doc_b"),
        col("tf").as("tf_b"))
      a.join(b, Seq("term"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(sum(col("tf_a") * col("tf_b")).as("dot"))
        .join(norms.select(col("doc_id").as("doc_a"),
          col("nrm").as("na")), Seq("doc_a"))
        .join(norms.select(col("doc_id").as("doc_b"),
          col("nrm").as("nb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("dot"),
          round((col("dot") * col("dot")).cast("double") /
            (col("na") * col("nb")).cast("double"), 9).as("cos2"))
        .orderBy(col("cos2").desc, col("doc_a"), col("doc_b"))
        .limit(20)
    }),

    // BM25 retrieval scoring (the ranking function behind most sparse
    // retrieval): tf saturation (k1=1.2) + document-length normalization
    // (b=0.75). Same two-shuffle shape as q_tfidf — (doc,term) tf agg,
    // then df and doc-length as COUNT/SUM windows over the tf rows; the
    // corpus-global (n_docs, total_dl) pair is a broadcast 1-row
    // relation. The idf is the probabilistic (n-df+0.5)/(df+0.5) form
    // WITHOUT the textbook log: ln() is not correctly-rounded IEEE
    // (+,-,*,/ are), and a monotone transform does not change the
    // ranking, so scores stay bit-identical across engines. Constants
    // appear pre-folded (0.25 = 1-b) so both engines evaluate the
    // identical expression tree.
    "q_bm25" -> ((s, d) => {
      val tf = documents(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val g = documents(s, d)
        .select(size(TextOps.tokens(col("text"))).cast("long").as("dl"))
        .agg(sum(col("dl")).as("tot_dl"), count(lit(1)).as("n_docs"))
      val wDoc = Window.partitionBy(col("doc_id"))
      val wDf = Window.partitionBy(col("term"))
      val wTop = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term"))
      val avgdl = col("tot_dl").cast("double") / col("n_docs").cast("double")
      val idf = ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5))
      val tfn = (col("tf").cast("double") * lit(2.2)) /
        (col("tf").cast("double") +
          lit(1.2) * (lit(0.25) + lit(0.75) *
            (col("dl").cast("double") / avgdl)))
      tf.withColumn("df", count(lit(1)).over(wDf))
        .withColumn("dl", sum(col("tf")).over(wDoc))
        .crossJoin(broadcast(g))
        .select(col("doc_id"), col("term"), col("tf"),
          round(idf * tfn, 6).as("score"))
        .withColumn("rn", row_number().over(wTop).cast("long"))
        .filter(col("rn") <= TfIdfTopN)
        .orderBy(col("doc_id"), col("rn"))
    }),

    // Simpson lexical diversity (the log-free twin of token entropy):
    // 1 - sum(tf^2)/dl^2, plus the effective vocabulary size dl^2 /
    // sum(tf^2) (= perplexity's rational cousin). The inner sums are
    // INTEGER-exact — summation order cannot move the result — and the
    // single final division is correctly-rounded IEEE, so the score is
    // engine- and partitioning-independent with no rounding anchor
    // gymnastics. One explode + two map-side-combined aggs.
    "q_text_diversity" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          sum(col("tf") * col("tf")).as("sum_sq"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          round(lit(1.0) - col("sum_sq").cast("double") /
            (col("n_tokens") * col("n_tokens")).cast("double"), 6)
            .as("simpson"),
          round((col("n_tokens") * col("n_tokens")).cast("double") /
            col("sum_sq").cast("double"), 6).as("eff_vocab"))
        .orderBy(col("doc_id"))),

    // URL canonicalization dedup (the first dedup any web-crawl pipeline
    // runs, BEFORE content hashing): case-fold, force https, strip www.,
    // tracking query strings, and trailing slashes, then collapse
    // variants. Synthetic variant URLs are derived per doc_id with the
    // same arithmetic on both engines. Canonicalization is pure per-row
    // regex (map-only at 100 TB); the groupBy shuffles only (canonical
    // URL, doc_id).
    "q_dedup_url" -> ((s, d) => {
      val raw = concat(
        when(col("doc_id") % 2 === 0, lit("HTTP://")).otherwise(lit("https://")),
        when(col("doc_id") % 3 === 0, lit("WWW.Site")).otherwise(lit("site")),
        (col("doc_id") % 5).cast("string"), lit(".Example.COM/Page/"),
        (col("doc_id") % 20).cast("string"),
        when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 3 === 0,
          concat(lit("?utm_source=mail&ref="), (col("doc_id") % 6).cast("string")))
          .otherwise(lit("")))
      val canon =
        regexp_replace(
          regexp_replace(
            regexp_replace(lower(col("raw")), "\\?.*$", ""),
            "/$", ""),
          "^https?://(www\\.)?", "https://")
      documents(s, d).select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"), col("raw"), canon.as("url"))
        .groupBy(col("url"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_raw"),
          countDistinct(col("raw")).as("n_variants"))
        .orderBy(col("url"))
    }),

    // Degree distribution of the verified near-dup pair graph — the
    // dedup-health readout (a heavy tail = boilerplate/template cluster
    // blowup, the thing that makes naive LSH fall over at scale). Rides
    // the same shared verified-pairs relation as clustering/PageRank;
    // two tiny aggs on top.
    "q_degree_dist" -> ((s, d) => {
      val p = verifiedPairs(s, d).select(col("id_a"), col("id_b"))
      p.select(col("id_a").as("id"))
        .unionAll(p.select(col("id_b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("degree"))
    }),

    // Fuzzy (edit-distance) join of an incoming batch against the
    // corpus — the similarity-join class the LSH family doesn't cover
    // (character-level distance, not set overlap). Blocking by length
    // bucket prunes candidates before the quadratic levenshtein runs:
    // the batch (the synthetic truncated docs) joins only corpus docs in
    // the same 64-char bucket, so the expensive predicate evaluates on
    // |batch| x bucket-width pairs, never |batch| x |corpus|. Blocking
    // can miss pairs that straddle a bucket boundary — inherent to
    // blocked similarity joins, and identical on the oracle side.
    "q_join_fuzzy" -> ((s, d) => {
      val all = docsWithNearDups(s, d)
        .select(col("doc_id"), col("base_id"), col("text"),
          floor(length(col("text")) / 64).as("blk"))
      // batch membership is structural (synthetic rows have base_id !=
      // doc_id), never the +100000 id-threshold convention
      val batch = all.filter(col("doc_id") =!= col("base_id"))
        .select(col("doc_id").as("batch_id"), col("text").as("bt"),
          col("blk"))
      val corpus = all.filter(col("doc_id") === col("base_id"))
        .select(col("doc_id").as("corpus_id"), col("text").as("ct"),
          col("blk"))
      // the 3-arg levenshtein runs the banded O(threshold * n) DP and
      // returns -1 past the bound — candidates above the cutoff cost
      // O(band), not O(n^2); surviving distances are exact, so the
      // oracle's unbanded levenshtein agrees on every kept row
      corpus.join(broadcast(batch), Seq("blk"))
        .select(col("batch_id"), col("corpus_id"),
          levenshtein(col("bt"), col("ct"), 21).cast("long").as("dist"))
        .filter(col("dist").between(0, 20))
        .orderBy(col("batch_id"), col("corpus_id"))
    }),

    // Triangle count over the verified near-dup pair graph — the
    // clustering-coefficient numerator (how clique-like duplicate
    // neighborhoods are; template families show up as dense triangles).
    // The textbook ordered-edge algorithm: edges already satisfy a < b,
    // so joining e1(a,b)–e2(b,c) and closing with e3(a,c) counts each
    // triangle exactly once — two equi-joins, no per-node adjacency
    // materialization, which is why it survives big sparse graphs.
    "q_graph_triangles" -> ((s, d) => {
      val e = verifiedPairs(s, d)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      val nodes = e.select(col("a").as("id"))
        .unionAll(e.select(col("b").as("id"))).distinct()
        .agg(count(lit(1)).as("n_nodes"))
      val edges = e.agg(count(lit(1)).as("n_edges"))
      val tri = e.as("e1")
        .join(e.as("e2"), col("e1.b") === col("e2.a"))
        .join(e.as("e3"),
          col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
        .agg(count(lit(1)).as("n_triangles"))
      edges.crossJoin(nodes).crossJoin(tri)
        .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
    }),

    // N-gram novelty (leave-one-out LM coverage): the fraction of a
    // doc's distinct bigrams that occur in NO other document — a
    // perplexity proxy with exact integer arithmetic (a real LM score
    // would sum per-bigram log-probs, whose float summation order and
    // ln() rounding are not engine-portable). Shape: aggregate BEFORE
    // shuffling rows around. Shingles are distinct within a doc, so a
    // gram with doc-frequency 1 has exactly one (doc, gram) row and
    // min(doc_id) names its owner — the per-gram agg alone yields the
    // unique-gram-per-doc counts with NO join back to the exploded
    // relation (the round-4 count-over-Window shape sorted every
    // exploded row inside a WindowExec; at corpus scale that is a full
    // sort of the gram relation, where this is two partial-agg
    // shuffles carrying 12-byte rows).
    "q_ngram_novelty" -> ((s, d) => {
      val g = documents(s, d)
        .select(col("doc_id"),
          explode(TextOps.distinctShingles(col("text"), 2)).as("g"))
        .select(col("doc_id"), TextOps.hash31(col("g")).as("h"))
      // per-doc gram counts: map-side partial agg, shuffle on doc_id
      val perDoc = g.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"))
      // per-doc unique counts: agg on h (df + owning doc when df=1),
      // then re-agg the df=1 survivors by owner — never re-joins the
      // exploded rows
      val uniq = g.groupBy(col("h"))
        .agg(count(lit(1)).as("df"), min(col("doc_id")).as("doc_id"))
        .filter(col("df") === 1)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_unique"))
      perDoc.join(uniq, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_unique"), lit(0L)).as("n_unique"),
          round(coalesce(col("n_unique"), lit(0L)).cast("double")
            / col("n_grams"), 6).as("novelty"))
        .orderBy(col("doc_id"))
    }),

    // Sliding-window chunking with overlap (RAG/retrieval prep): chunk
    // i covers tokens [i*stride+1, i*stride+len]; the last chunk may be
    // ragged. Pure per-row generator — chunking 100 TB is map-only.
    "q_chunk_overlap" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
        .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"),
          explode(transform(
            sequence(lit(0),
              floor((greatest(size(col("t")) - ChunkLen, lit(0))
                + (ChunkStride - 1)) / lit(ChunkStride)).cast("int")),
            i => struct(i.cast("long").as("idx"),
              md5(array_join(slice(col("t"), i * ChunkStride + 1, lit(ChunkLen)),
                " ")).as("h")))).as("c"))
        .select(col("doc_id"), col("c.idx").as("chunk_idx"),
          col("c.h").as("chunk_md5"), col("n_tokens"))
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // URL extraction + host rollup (crawl-style link analysis). The
    // corpus has no URLs, so deterministic ones are synthesized per doc
    // — both engines then extract from identical input.
    "q_url_extract" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          concat(col("text"), lit(" see https://site"),
            (col("doc_id") % 7).cast("string"), lit(".example.com/p/"),
            col("doc_id").cast("string"), lit(" and http://ref"),
            (col("doc_id") % 3).cast("string"), lit(".org/x?q="),
            col("doc_id").cast("string")).as("synth"))
        .select(col("doc_id"),
          explode(regexp_extract_all(col("synth"), lit(UrlRe), lit(0)))
            .as("url"))
        .select(col("doc_id"), regexp_extract(col("url"), HostRe, 1).as("host"))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("host"))),

    // Composite quality score: weighted blend of the §E5 signals on a
    // 0..10 scale. Each signal is rounded FIRST (the shared determinism
    // anchor); the weights are INTEGERS so the true blend value still
    // has only 6 decimals — fractional weights (0.4*x) would shift mass
    // into the 7th decimal and land exactly on round-half boundaries,
    // where Spark (decimal HALF_UP) and DuckDB (scaled-double rounding)
    // disagree. Map-only at any scale.
    "q_quality_score" -> ((s, d) =>
      qualityScored(documents(s, d))
        .select(col("doc_id"), col("score"))
        .withColumn("tier",
          when(col("score") > 8.0, "high")
            .when(col("score") > 5.0, "mid").otherwise("low"))
        .orderBy(col("doc_id"))),

    // Lateral positional explode (LATERAL VIEW posexplode): the
    // order-preserving fan-out every sequence-labeling prep needs.
    "q_posexplode" -> ((s, d) =>
      documents(s, d).filter(col("doc_id") < 20)
        .select(col("doc_id"),
          posexplode(TextOps.tokens(col("text"))))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("col").as("tok"))
        .orderBy(col("doc_id"), col("pos"))),

    // Hash-based train/val/test split (80/10/10): the reproducible
    // dataset partition — assignment depends only on doc_id, never on
    // partitioning, sampling state, or engine. Map-side + one agg.
    "q_dataset_split" -> ((s, d) =>
      documents(s, d)
        .select(col("lang"), col("n_chars"),
          TextOps.let(TextOps.hash31(col("doc_id").cast("string")) % 100) { b =>
            when(b < 80, "train").when(b < 90, "val").otherwise("test")
          }.as("split"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
        .orderBy(col("lang"), col("split"))),

    // DETERMINISTIC epoch shuffle + shard assignment: distributed
    // training ingest needs a reproducible global permutation — same
    // corpus, same seed, same order on any cluster, any partitioning,
    // any engine — with shards readable independently. The permutation
    // key is md5(seed, doc_id) (an engine-neutral pseudorandom order;
    // a new seed reshuffles every epoch), the shard is the key's first
    // hex nibble (uniform over 16 by construction), and WITHIN each
    // shard rows stream in key order. Map-only + a 16-group aggregate:
    // no global sort, no single-task window — the shape that survives
    // 100 TB. The gated per-shard (count, keysum, key-range) pins the
    // whole permutation: one doc in a different shard or order moves a
    // hex boundary or a sum.
    "q_shuffle_det" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          md5(concat_ws(":", lit("epoch-7"),
            col("doc_id").cast("string"))).as("k"))
        .select(col("doc_id"), col("k"),
          TextOps.let(ascii(substring(col("k"), 1, 1))) { a =>
            when(a <= 57, a - 48).otherwise(a - 87)
          }.cast("long").as("shard"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("keysum"),
          min(col("k")).as("first_key"), max(col("k")).as("last_key"))
        .orderBy(col("shard"))),

    // Leakage-free train/val/test split: hash on the near-dup CLUSTER
    // root, not the doc_id, so every member of a duplicate cluster lands
    // in the same split — the guard against train/test contamination by
    // near-copies that a plain per-doc hash split cannot give. Docs
    // outside any cluster split on their own id (root == id for them by
    // construction). The cluster relation is tiny and broadcasts; the
    // corpus never reshuffles for the join.
    "q_split_leakfree" -> ((s, d) => {
      val cl = graft.ops.Clusters.connectedComponents(
          verifiedPairs(s, d).select(col("id_a"), col("id_b")),
          "id_a", "id_b")
        .select(col("id").as("doc_id"), col("root"))
      docsWithNearDups(s, d).select(col("doc_id"))
        .join(broadcast(cl), Seq("doc_id"), "left")
        .withColumn("unit", coalesce(col("root"), col("doc_id")))
        .select(col("doc_id"), col("unit"),
          TextOps.let(TextOps.hash31(col("unit").cast("string")) % 100) { b =>
            when(b < 80, "train").when(b < 90, "val").otherwise("test")
          }.as("split"))
        .orderBy(col("doc_id"))
    }),

    // Per-source document cap (domain capping, the crawl-curation step
    // that stops one domain from dominating the corpus): keep at most 5
    // docs per source, chosen by a deterministic hash rank (md5 of the
    // id — reproducible "random", identical on the oracle). One bounded
    // window per source; Spark 4's WindowGroupLimit pushes the rank
    // filter below the sort at scale.
    "q_cap_per_source" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), col("source"),
          md5(col("doc_id").cast("string")).as("hk"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("source"))
            .orderBy(col("hk"), col("doc_id"))).cast("long"))
        .filter(col("rn") <= 5)
        .select(col("doc_id"), col("source"), col("rn"))
        .orderBy(col("source"), col("rn"))),

    // Int8 embedding quantization (the storage/bandwidth scale path for
    // ANN): code_i = floor((x_i - min) * 255 / (max - min)). floor, not
    // round — floor is exact on doubles in every engine, while
    // round-to-nearest sits on .5 boundaries where engines disagree.
    // Codes are audited by exact integer checksum. Map-only.
    "q_embed_quant" -> ((s, d) =>
      embeddings(s, d)
        .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
        .select(col("vec_id"), col("v"),
          array_min(col("v")).as("vmin"), array_max(col("v")).as("vmax"))
        .select(col("vec_id"),
          round(col("vmin"), 6).as("vmin_r"),
          round(col("vmax"), 6).as("vmax_r"),
          TextOps.let(transform(col("v"),
            x => when(col("vmax") === col("vmin"), 0L)
              .otherwise(floor((x - col("vmin")) * 255
                / (col("vmax") - col("vmin")))))) { q =>
            struct(
              aggregate(q, lit(0L), (acc, c) => acc + c).as("qsum"),
              element_at(q, 1).as("q0"),
              element_at(q, 2).as("q1"))
          }.as("s"))
        .select(col("vec_id"), col("vmin_r"), col("vmax_r"),
          col("s.qsum").as("qsum"), col("s.q0").as("q0"),
          col("s.q1").as("q1"))
        .orderBy(col("vec_id"))),

    // Per-dimension feature standardization FIT (the scaler every
    // embedding pipeline trains before indexing/clustering): corpus
    // moments per dimension from exact decimal sums (order-free, the
    // q_kmeans_step discipline), plus the standardized extremes — the
    // readout that shows which dimensions carry outliers. Scale shape:
    // map-side partial aggregation collapses each partition to
    // (dims x partials) fixed-width rows; the corpus itself never
    // reshuffles, so the fit is a scan at any corpus size.
    "q_embed_dim_stats" -> ((s, d) =>
      embeddings(s, d)
        .select(posexplode(VectorOps.toDouble(col("embedding"))))
        .select(col("pos").cast("long").as("dim"), col("col").as("x"),
          col("col").cast(org.apache.spark.sql.types.DecimalType(18, 9))
            .as("xd"))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as("n"),
          sum(col("xd")).cast("double").as("s1"),
          // x*x evaluated in DOUBLE (identical on both engines), THEN
          // decimal-cast: the sum is order-free while the per-element
          // product stays bit-identical
          sum((col("x") * col("x"))
            .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
            .cast("double").as("s2"),
          min(col("x")).as("xmin"), max(col("x")).as("xmax"))
        .withColumn("_m", col("s1") / col("n"))
        .withColumn("_sd",
          sqrt(col("s2") / col("n") - col("_m") * col("_m")))
        .select(col("dim"), col("n"),
          round(col("_m"), 6).as("mean"),
          round(col("_sd"), 6).as("std"),
          round((col("xmin") - col("_m")) / col("_sd"), 6).as("z_min"),
          round((col("xmax") - col("_m")) / col("_sd"), 6).as("z_max"))
        .orderBy(col("dim"))),

    // Per-dimension standardization TRANSFORM: the fitted (mean, std)
    // per dimension — a bounded, dims-sized relation — is collected and
    // baked into LITERAL arrays (the RangePartitioner/rangedCore move),
    // so applying the scaler is a pure map-only projection: no join, no
    // shuffle, whole-stage codegen. Exactly how a 100 TB scoring pass
    // ships a fitted preprocessor: broadcast constants, scan-transform.
    // Output checksums avoid float summation order: probe elements are
    // single values (bit-identical), n_pos is an integer fold.
    "q_embed_standardize" -> ((s, d) => {
      val e = embeddings(s, d)
        .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
      val stats = e
        .select(posexplode(col("v")))
        .select(col("pos"), col("col").as("x"),
          col("col").cast(org.apache.spark.sql.types.DecimalType(18, 9))
            .as("xd"))
        .groupBy(col("pos"))
        .agg(count(lit(1)).as("n"),
          sum(col("xd")).cast("double").as("s1"),
          sum((col("x") * col("x"))
            .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
            .cast("double").as("s2"))
        .orderBy(col("pos"))
        .collect() // dims rows (64) — bounded by construction
      val means = stats.map(r => r.getDouble(2) / r.getLong(1))
      val stds = stats.map { r =>
        val m = r.getDouble(2) / r.getLong(1)
        math.sqrt(r.getDouble(3) / r.getLong(1) - m * m)
      }
      val mLit = array(means.map(lit).toIndexedSeq: _*)
      val sLit = array(stds.map(lit).toIndexedSeq: _*)
      e.select(col("vec_id"),
          TextOps.let(transform(col("v"), (x, i) =>
            (x - element_at(mLit, i + 1)) / element_at(sLit, i + 1))) { z =>
            struct(
              round(element_at(z, 1), 6).as("z0"),
              round(element_at(z, 2), 6).as("z1"),
              round(element_at(z, size(z)), 6).as("z_last"),
              aggregate(z, lit(0L),
                (acc, zi) => acc + when(zi > 0d, 1L).otherwise(0L))
                .as("n_pos"))
          }.as("st"))
        .select(col("vec_id"), col("st.z0").as("z0"), col("st.z1").as("z1"),
          col("st.z_last").as("z_last"), col("st.n_pos").as("n_pos"))
        .orderBy(col("vec_id"))
    }),

    // K-means M-step (centroid update) with EXACT decimal component
    // sums: float summation order varies with partitioning, so the
    // mean is computed from DECIMAL(18,9) sums that cannot drift. The
    // posexplode re-keys (label, dim) — one shuffle, perfectly
    // parallel over dims at any scale.
    "q_kmeans_step" -> ((s, d) =>
      embeddings(s, d)
        .select(col("label"), posexplode(VectorOps.toDouble(col("embedding"))))
        .select(col("label"), col("pos").cast("long").as("dim"),
          col("col").cast(org.apache.spark.sql.types.DecimalType(18, 9))
            .as("xd"))
        .groupBy(col("label"), col("dim"))
        .agg(round(sum(col("xd")).cast("double") / count(lit(1)), 6)
          .as("mean_x"))
        .orderBy(col("label"), col("dim"))),

    // MinHash accuracy audit: signature-estimated Jaccard vs exact
    // shingle Jaccard on the adjacent-pair set — the recall/precision
    // dial every LSH deployment needs measured before trusting it at
    // 100 TB (where only the estimate is affordable).
    "q_minhash_est" -> ((s, d) => {
      // adjacent-pair assembly by double-emission ([[adjacentPairs]]):
      // signatures and shingle sets computed once, ONE shuffle.
      val sigsh = minhashSig(s, d)
        .join(documents(s, d).select(col("doc_id"),
          TextOps.distinctShingles(col("text"), K).as("sh")), Seq("doc_id"))
      adjacentPairs(sigsh, "sig", "sh")
        .select(col("id_a"), col("id_b"),
          round(aggregate(
            zip_with(col("sig_a"), col("sig_b"),
              (x, y) => when(x === y, 1).otherwise(0)),
            lit(0), (acc, v) => acc + v).cast("double") / NumHashes, 6)
            .as("est_jaccard"),
          round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
            / size(array_union(col("sh_a"), col("sh_b"))), 6)
            .as("exact_jaccard"))
        .withColumn("abs_err",
          round(abs(col("est_jaccard") - col("exact_jaccard")), 6))
        .orderBy(col("id_a"))
    }),

    // ---- vocabulary & coverage -----------------------------------------
    // Token-frequency vocabulary with cumulative corpus coverage: the
    // "how big a vocab covers X% of tokens" curve every tokenizer design
    // starts from. Scale shape: the corpus-size aggregate is a broadcast
    // 1-row global, and the candidate set shrinks to VocabTopN rows via
    // TakeOrderedAndProject BEFORE the running-sum window touches it —
    // the window sorts 30 rows, never the corpus.
    "q_vocab_coverage" -> ((s, d) => {
      val toks = documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
      val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      val total = toks.agg(count(lit(1)).as("tot"))
      val ord = Window.orderBy(col("n").desc, col("tok"))
      counts.orderBy(col("n").desc, col("tok")).limit(VocabTopN)
        .crossJoin(broadcast(total))
        .withColumn("rank", row_number().over(ord).cast("long"))
        .withColumn("cum_frac",
          round(sum(col("n")).over(ord.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)).cast("double")
            / col("tot"), 6))
        .select(col("rank"), col("tok"), col("n"), col("cum_frac"))
        .orderBy(col("rank"))
    }),

    // Out-of-vocabulary rate: per-doc fraction of tokens outside the
    // top-VocabSize vocabulary — the "is this doc tokenizable" quality
    // gate. The vocabulary is TakeOrdered-small and BROADCAST, so the
    // anti-join never shuffles the token stream against it; the only
    // shuffle keys are (doc_id, count) pairs.
    "q_oov_rate" -> ((s, d) => {
      val docs = documents(s, d)
      val toks = docs.select(col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("tok"))
      val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok")).limit(VocabSize)
        .select(col("tok"))
      val oov = toks.join(broadcast(vocab), Seq("tok"), "left_anti")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("oov_raw"))
      docs.select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        .join(oov, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("oov_raw"), lit(0L)).as("n_oov"))
        .withColumn("oov_frac",
          round(col("n_oov").cast("double") / col("n_tokens"), 6))
        .orderBy(col("doc_id"))
    }),

    // Incremental dedup (today's batch vs the standing corpus): the
    // mutated near-dup docs play the incoming batch, the originals the
    // indexed corpus. The corpus's (doc_id, band_key) index is the
    // MEMOIZED standing index ([[corpusBandIndex]] — precomputed once,
    // reused every batch, exactly the production shape); the batch is
    // tiny relative to 100 TB, so its banded signatures BROADCAST and
    // the corpus index never shuffles at all. Exact-Jaccard verification
    // runs only on band collisions; best match per incoming doc by
    // (jaccard desc, corpus id).
    "q_dedup_incremental" -> ((s, d) => {
      val all = docsWithNearDups(s, d)
      val cand = corpusBandIndex(s, d).as("c")
        .join(broadcast(
          bandsOf(all.filter(col("doc_id") =!= col("base_id"))).as("b")),
          col("c.band_key") === col("b.band_key"))
        .select(col("b.doc_id").as("new_id"), col("c.doc_id").as("match_id"))
        .distinct()
      val sh = all.select(col("doc_id"),
        TextOps.distinctShingles(col("text"), K).as("sh"))
      val scored = cand
        .join(sh.select(col("doc_id").as("new_id"), col("sh").as("sh_n")),
          Seq("new_id"))
        .join(sh.select(col("doc_id").as("match_id"), col("sh").as("sh_m")),
          Seq("match_id"))
        .select(col("new_id"), col("match_id"),
          round(size(array_intersect(col("sh_n"), col("sh_m"))).cast("double")
            / size(array_union(col("sh_n"), col("sh_m"))), 6).as("jaccard"))
      val w = Window.partitionBy(col("new_id"))
        .orderBy(col("jaccard").desc, col("match_id"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("new_id"), col("match_id"), col("jaccard"),
          (col("jaccard") >= 0.5).as("is_dup"))
        .orderBy(col("new_id"))
    }),

    // Incremental CROSS-SOURCE accounting — the daily form of
    // q_dedup_cross_source (which stays as the cold-start/backfill
    // form: it pays the full corpus pair-graph build, 100x exponent
    // 0.70). A daily crawl only needs the source-overlap delta of
    // TODAY'S batch, and that probes the standing band index instead
    // of rebuilding shingle->LSH->verify over the corpus:
    //  1. batch signatures broadcast against [[corpusBandIndex]]
    //     (equi-join on band_key; the index never shuffles);
    //  2. exact-Jaccard verification touches ONLY collided docs — the
    //     corpus side is semi-join-pruned to matched ids BEFORE any
    //     shingle work, so per-day verify cost scales with the batch,
    //     not the corpus;
    //  3. each verified (batch doc, corpus doc) pair maps to its base
    //     doc's source (the structural base_id relation, a bounded
    //     broadcast) and reduces to per-(source, source) pair counts.
    "q_dedup_cross_incremental" -> ((s, d) =>
      incrementalCrossAccounting(s, d, corpusBandIndex(s, d))),

    // The PERSISTED standing index — the production shape the
    // session-memoized [[corpusBandIndex]] stands in for: the index
    // BUILD job writes the corpus band relation to the cluster FS
    // (hash-clustered and sorted by band key), the daily probe runs in
    // a FRESH SESSION (isolated conf/catalog — the cross-JVM stand-in;
    // a cold-JVM probe timing is recorded in BASELINE.md) against that
    // table, and the MAINTENANCE append adopts today's bands so
    // tomorrow's probe sees them — index upkeep costs the batch, never
    // a rebuild. The gated rows equal q_dedup_cross_incremental's (the
    // persisted index must change nothing), and the booleans pin that
    // the probe really read the on-disk table and that the appended
    // index covers exactly the full corpus-plus-batch band relation.
    "q_dedup_index_persist" -> ((s, d) => {
      val dir = Relational.rtDir("bidx", d)
      // day-0 corpus index build is deterministic fixture ([[
      // Relational.cachedPrologue]]); the teeth are the fresh-session
      // probe and the maintenance append below, on this gate's own copy
      Relational.cachedPrologue("bidx", d, dir)(b =>
        bandsOf(docsWithNearDups(s, d)
            .filter(col("doc_id") === col("base_id")))
          .repartition(8, col("band_key"))
          .sortWithinPartitions(col("band_key"))
          .write.mode("overwrite").parquet(b))
      val s2 = s.newSession()
      val idx = s2.read.parquet(dir)
      val fromDisk = idx.inputFiles.nonEmpty
      // probe pinned BEFORE the append (eager localCheckpoint), so the
      // accounting can never depend on file-listing snapshot semantics
      val out = incrementalCrossAccounting(s2, d, idx).localCheckpoint()
      val batch2 = docsWithNearDups(s2, d)
        .filter(col("doc_id") =!= col("base_id"))
      bandsOf(batch2).repartition(1, col("band_key"))
        .sortWithinPartitions(col("band_key"))
        .write.mode("append").parquet(dir)
      val maintained = Relational.diskRowCount(s2, dir) ==
        bandsOf(docsWithNearDups(s2, d)).count()
      out.withColumn("probe_from_disk", lit(fromDisk))
        .withColumn("index_maintained", lit(maintained))
    }),

    // Standing-index MAINTENANCE as a STREAMING job — the production
    // form of the persist queries' batch append: the band relation is
    // MAP-ONLY (native MinHashSig signing + one generator explode, no
    // stateful operator at all), so index upkeep runs as a Structured
    // Streaming query appending straight to the index table through
    // the parquet file sink — each micro-batch's bands land exactly
    // once (checkpointed source offsets), and a crashed maintenance
    // run resumes instead of double-appending. Drained: corpus as
    // micro-batch 1, today's docs as micro-batch 2; the accumulated
    // SINK IS the standing index, the fresh-session probe over it
    // must equal the incremental accounting (batch-side rows
    // self-collide but drop at the corpus verify — the
    // q_dedup_index_compact argument), and the boolean pins exactly
    // Bands rows per document ever ingested.
    "q_stream_index_maintain" -> ((s, d) => {
      val all = docsWithNearDups(s, d)
      val corpus = all.filter(col("doc_id") === col("base_id"))
        .select(col("doc_id"), col("text"))
      val batch = all.filter(col("doc_id") =!= col("base_id"))
        .select(col("doc_id"), col("text"))
      val dir = java.nio.file.Files.createTempDirectory("graft_idxm_")
      try {
        val t0 = System.currentTimeMillis()
        Relational.stageStreamFile(corpus, dir, "0_docs.parquet", t0 - 60000)
        Relational.stageStreamFile(batch, dir, "1_docs.parquet", t0 - 30000)
        val raw = s.readStream.schema(corpus.schema)
          .option("maxFilesPerTrigger", 1).parquet(dir.toString)
        val base = Relational.rtDir("sidxm", d)
        Relational.drainStreamFiles(bandsOf(raw), base)
        val s2 = s.newSession()
        val idx = s2.read.parquet(s"$base/out")
        val maintained = idx.count() == all.count() * Bands
        incrementalCrossAccounting(s2, d, idx)
          .withColumn("index_maintained", lit(maintained))
      } finally Relational.deleteRecursive(dir)
    }),

    // The standing index LIFECYCLE closes with COMPACTION: daily
    // appends fragment the band index (each commits a small file), and
    // the standing compaction job ([[sources.SnapshotTable.compactCommit]],
    // one new version behind a single pointer swing) rewrites it to
    // bounded file sizes. The gated contract: the post-compaction
    // FRESH-SESSION probe must equal the incremental accounting bit for
    // bit (a compaction that loses/duplicates index rows changes the
    // answer), and `compacted` pins that the manifest's row count held
    // and its file count shrank. Note the probe runs against the
    // corpus+batch index — batch-side band rows collide with the
    // probe's own bands, but the verify stage semi-joins matches
    // against the CORPUS relation, so self/batch collisions drop and
    // the accounting is unchanged: exactly why index maintenance can
    // append blindly.
    "q_dedup_index_compact" -> ((s, d) => {
      val dir = Relational.rtDir("bidxc", d)
      // the fragmented opening state (corpus index + one appended
      // batch) is deterministic fixture; the teeth — compaction and
      // the fresh-session probe — run on this gate's own copy
      Relational.cachedPrologue("bidxc", d, dir)(bandIndexFixture(s, d, _))
      val total = graft.sources.SnapshotTable.statsAgg(dir)._1
      val (filesBefore, filesAfter, _) = graft.sources.SnapshotTable
        .compactCommit(s, dir, "band_key", math.max(1L, (total + 1) / 2))
      val s2 = s.newSession()
      val idx = graft.sources.SnapshotTable.read(s2, dir)
      val compacted = graft.sources.SnapshotTable.statsAgg(dir)._1 ==
        total && filesAfter < filesBefore
      incrementalCrossAccounting(s2, d, idx)
        .withColumn("compacted", lit(compacted))
    }),

    // DELETION PROPAGATION — the lifecycle arm a real 100 TB index hits
    // that compaction/refit don't cover: takedown / PII-removal
    // requests mean upstream row deletes must reach the standing index,
    // not just the base table. A tombstone batch (here: corpus docs
    // with doc_id % 50 == 7) drives [[sources.SnapshotTable.commitDelete]]
    // — touched-files-ONLY copy-on-write (files without a tombstoned
    // row carry into the new snapshot by manifest reference; the
    // rewrite cost tracks the deletion batch) behind one pointer swing.
    // The gated contract: the post-delete FRESH-SESSION probe equals
    // the incremental accounting computed over the corpus MINUS the
    // tombstones (a batch doc whose only near-dup was deleted must now
    // read clean), `deleted_gone` pins zero tombstoned rows remaining
    // AND exactly Bands rows per tombstoned doc removed,
    // `untouched_kept` pins that the files leaving the snapshot are
    // exactly the pre-delete files holding a tombstoned key, found by
    // an independent `input_file_name` semi-join.
    "q_dedup_index_delete" -> ((s, d) => {
      val dir = Relational.rtDir("bidxdel", d)
      // opening state (corpus index + appended batch) is deterministic
      // fixture; the takedown propagation teeth run on this gate's copy
      Relational.cachedPrologue("bidxdel", d, dir)(bandIndexFixture(s, d, _))
      val pre = graft.sources.SnapshotTable.read(s, dir)
      val preCount = pre.count()
      val tomb = documents(s, d).filter(col("doc_id") % 50 === 7)
        .select(col("doc_id"))
      val nTomb = tomb.count()
      val hit = fileNames(pre.withColumn("_f", input_file_name())
        .join(broadcast(tomb), Seq("doc_id"), "left_semi")
        .select(col("_f")).distinct().collect().map(_.getString(0)))
      val (rowsDeleted, _) = graft.sources.SnapshotTable.commitDelete(
        s, dir, "doc_id", tomb, "band_key")
      val s2 = s.newSession()
      val idx = graft.sources.SnapshotTable.read(s2, dir)
      val tomb2 = documents(s2, d).filter(col("doc_id") % 50 === 7)
        .select(col("doc_id"))
      val deletedGone = rowsDeleted == nTomb * Bands &&
        idx.count() == preCount - nTomb * Bands &&
        idx.join(broadcast(tomb2), Seq("doc_id"), "left_semi").count() == 0
      val untouchedKept = hit.nonEmpty &&
        (fileNames(pre.inputFiles) -- fileNames(idx.inputFiles)) == hit
      incrementalCrossAccounting(s2, d, idx)
        .withColumn("deleted_gone", lit(deletedGone))
        .withColumn("untouched_kept", lit(untouchedKept))
    }),

    // TABLE -> INDEX SYNC through the snapshot table — the two
    // lifecycle families meet: the documents corpus and the standing
    // band index are both [[sources.SnapshotTable]]s, and the index is
    // maintained ONLY from the corpus table's own change surfaces —
    // never by re-reading the table. An append commit's [[readChanges]]
    // delta (required to read a strict subset of files: O(delta))
    // drives the index append; a merge-on-read takedown's TOMBSTONE
    // FILE is itself the key feed of the index's
    // [[sources.SnapshotTable.commitDelete]] — the takedown lands
    // O(metadata) on the table and propagates to the derived index
    // without either side scanning the corpus. The gate require()s the
    // maintained index bag-equal to one rebuilt from the table's latest
    // read (tombstones applied), and the accounting oracle equals
    // q_dedup_index_delete's — same final index, different
    // (incremental) plumbing.
    "q_snapshot_index_sync" -> ((s, d) => {
      val dir = Relational.rtDir("snapis", d)
      val all = docsWithNearDups(s, d)
      val corpus = all.filter(col("doc_id") === col("base_id"))
        .select(col("doc_id"), col("text"))
      val batch = all.filter(col("doc_id") =!= col("base_id"))
        .select(col("doc_id"), col("text"))
      // day-1 prologue (corpus commit + initial index build) is pure
      // deterministic fixture; the gate's teeth are the day-2/3
      // MAINTENANCE and the rebuild equality below
      Relational.cachedPrologue("snapis", d, dir) { b =>
        graft.sources.SnapshotTable.commitAppend(
          corpus, s"$b/t", "doc_id", 8)
        graft.sources.SnapshotTable.commitAppend(
          bandsOf(graft.sources.SnapshotTable.read(s, s"$b/t")),
          s"$b/x", "band_key", 8)
      }
      val tdir = s"$dir/t"
      val xdir = s"$dir/x"
      // day 2: append commit; the O(delta) changes feed drives the
      // index append
      graft.sources.SnapshotTable.commitAppend(batch, tdir, "doc_id", 1)
      val (ch12, fr12, tot12) = graft.sources.SnapshotTable
        .readChanges(s, tdir, 1, 2)
      require(fr12 < tot12,
        s"q_snapshot_index_sync: append delta must be O(delta), read " +
          s"$fr12/$tot12 files")
      graft.sources.SnapshotTable.commitAppend(
        bandsOf(ch12.filter(col("_change") === "insert")
          .select(col("doc_id"), col("text"))),
        xdir, "band_key", 1)
      // day 3: merge-on-read takedown; the tombstone file IS the
      // delete feed for the index
      val tomb = documents(s, d).filter(col("doc_id") % 50 === 7)
        .select(col("doc_id"))
      val nTomb = tomb.count()
      graft.sources.SnapshotTable.commitDeleteMor(s, tdir, "doc_id", tomb)
      val dref = graft.sources.SnapshotTable.deleteRefs(tdir).head
      val tombKeys = s.read.parquet(s"$tdir/${dref.file}")
      val (rowsDeleted, _) = graft.sources.SnapshotTable.commitDelete(
        s, xdir, "doc_id", tombKeys, "band_key")
      val s2 = s.newSession()
      val idx = graft.sources.SnapshotTable.read(s2, xdir)
      val fromScratch = bandsOf(
        graft.sources.SnapshotTable.read(s2, tdir))
      require(Relational.bagEqual(idx, fromScratch),
        "q_snapshot_index_sync: maintained index diverged from a " +
          "rebuild off the table's latest read")
      incrementalCrossAccounting(s2, d, idx)
        .withColumn("delta_only", lit(true))
        .withColumn("takedown_synced", lit(rowsDeleted == nTomb * Bands))
    }),

    // The STREAMING LSH near-dup candidate generator
    // (Streams.nearDupCandidates — per-band-bucket exemplar state, one
    // long per bucket) under the oracle gate, by the drain pattern:
    // corpus docs replay as batch 1, the synthetic near-dup batch as
    // batch 2 (ids ascend across the files, so first-seen == min id),
    // and every bucket hit in batch 2 must come from EXEMPLAR STATE
    // carried across the micro-batch boundary. The drained hits equal
    // the batch answer: for each band bucket, every non-minimal doc
    // paired with the bucket's min doc_id — which is exactly what the
    // oracle computes over the same banded relation.
    "q_stream_neardup_drain" -> ((s, d) => {
      val all = docsWithNearDups(s, d)
      val corpus = all.filter(col("doc_id") === col("base_id"))
        .select(col("doc_id"), col("text"))
      val batch = all.filter(col("doc_id") =!= col("base_id"))
        .select(col("doc_id"), col("text"))
      val dir = java.nio.file.Files.createTempDirectory("graft_nd_drain_")
      try {
        val t0 = System.currentTimeMillis()
        Relational.stageStreamFile(corpus, dir, "0_docs.parquet", t0 - 60000)
        Relational.stageStreamFile(batch, dir, "1_docs.parquet", t0 - 30000)
        val raw = s.readStream.schema(corpus.schema)
          .option("maxFilesPerTrigger", 1).parquet(dir.toString)
        // input-sized drain on both axes: the hit stream tracks the
        // input (every non-minimal doc per bucket emits), so it drains
        // through the parquet FILE sink — the memory sink would funnel
        // it through the driver — and the exemplar state tracks the
        // distinct band buckets (~Bands x docs), so the state-store
        // partition count sizes from the corpus like the interval
        // join's, instead of serializing commits through a fixed 8
        val parts = math.max(8L, math.min(64L,
          corpus.count() * Bands / 62500L)).toInt
        // measured AT 100x (500k docs, 4M band-bucket state keys):
        // HDFS-backed store 55.8 s vs RocksDB 62.1 s (and 2.2 vs 3.7 s
        // at 1x) — the exemplar state is input-sized BY DEFINITION
        // (one long per band bucket), so the drain's exponent (~0.70)
        // is the state-bound floor, not a store choice; the rocksDb
        // knob stays for deployments whose state outgrows the heap
        Relational.drainStreamFiles(
          graft.streaming.Streams.nearDupCandidates(raw, K, NumHashes,
            Bands).toDF(),
          Relational.rtDir("nddrain", d), statePartitions = parts)
          .select(col("doc_id"), col("exemplar_id"), col("band_key"))
          .orderBy(col("doc_id"), col("band_key"))
      } finally Relational.deleteRecursive(dir)
    }),

    // Cross-document duplicated-substring sweep (exact substring dedup
    // at n-gram granularity, the Lee-et-al. "deduplicating training
    // data" shape): every position whose DupK-gram also appears in
    // ANOTHER document counts as duplicated text. Grams travel as
    // 31-bit hashes — the shuffle carries 8-byte keys, never text — and
    // the duplicated-gram set falls out of one count-distinct-docs
    // aggregation over those keys.
    "q_substring_dup" -> ((s, d) => {
      val docs = documents(s, d)
      // The hashed-gram relation feeds BOTH the duplicated-gram
      // aggregation and the per-doc hit count, so it is materialized
      // once — but COMPACTED first: round-4 checkpointed the raw
      // exploded (doc, hash) rows; grouping to per-(doc, gram-hash)
      // counts before the checkpoint shrinks what is written/read and
      // every downstream shuffle, at the cost of one aggregation the
      // consumers needed anyway. (Exchange-reuse instead of a
      // checkpoint does NOT work here: PushDownLeftSemiAntiJoin
      // rewrites the hit-count branch's aggregate, the two exchange
      // subtrees stop being identical, and the explode runs twice —
      // measured 50% slower.)
      val ghc = docs.select(col("doc_id"),
          explode(TextOps.shingles(col("text"), DupK)).as("x"))
        .select(col("doc_id"), TextOps.hash31(col("x")).as("h"))
        .groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("c"))
        .localCheckpoint()
      // a gram-hash is duplicated iff it appears in >= 2 docs; ghc is
      // already distinct on (doc, h), so the doc count is a plain count
      val dup = ghc.groupBy(col("h"))
        .agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2).select(col("h"))
      val hits = ghc.join(dup, Seq("h"), "left_semi")
        .groupBy(col("doc_id")).agg(sum(col("c")).as("dup_raw"))
      docs.select(col("doc_id"),
          size(TextOps.shingles(col("text"), DupK)).cast("long")
            .as("n_grams"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("dup_raw"), lit(0L)).as("n_dup_pos"))
        .withColumn("dup_frac",
          round(col("n_dup_pos").cast("double") / col("n_grams"), 6))
        .orderBy(col("doc_id"))
    }),

    // Curriculum binning: per-language length quartiles via ntile —
    // equal-population bins, the standard curriculum/bucketing pass.
    // Partitioned by lang so no global sort; ties are resolved by the
    // deterministic (n_chars, doc_id) order.
    "q_ntile" -> ((s, d) =>
      documents(s, d)
        .select(col("lang"), col("doc_id"), col("n_chars"))
        .withColumn("bin", ntile(4).over(Window.partitionBy(col("lang"))
          .orderBy(col("n_chars"), col("doc_id"))).cast("long"))
        .orderBy(col("lang"), col("doc_id"))),

    // Inverse-frequency class weights over the embedding labels — the
    // loss-reweighting table every imbalanced-label training run needs.
    // Per-class counts shuffle |labels| rows; the global is a broadcast
    // 1-row cross join, never a single-partition window.
    "q_class_weights" -> ((s, d) => {
      val per = embeddings(s, d).groupBy(col("label"))
        .agg(count(lit(1)).as("n"))
      val tot = per.agg(sum(col("n")).as("tot"), count(lit(1)).as("k"))
      per.crossJoin(broadcast(tot))
        .select(col("label"), col("n"),
          round(col("tot").cast("double") /
            (col("k") * col("n")).cast("double"), 6).as("weight"))
        .orderBy(col("label"))
    }),

    // Text normalization (lowercase, strip non-alphanumerics, collapse
    // whitespace): the canonical-form pass that precedes exact dedup.
    // Dirt is synthesized per row (the corpus is already clean) so both
    // engines normalize identical input; pure map work, regexes via the
    // Column API (expr() SQL literals would strip the backslashes).
    "q_normalize" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          concat(lit("  A!b@C# "), col("text"),
            lit(" :u"), col("doc_id").cast("string"), lit("  ")).as("raw"))
        .select(col("doc_id"),
          trim(regexp_replace(regexp_replace(lower(col("raw")),
            lit("[^a-z0-9 ]"), lit(" ")), lit(" +"), lit(" "))).as("norm"))
        .select(col("doc_id"),
          length(col("norm")).cast("long").as("n_chars_norm"),
          substring(col("norm"), 1, 60).as("head"),
          substring(col("norm"), -20, 20).as("tail"))
        .orderBy(col("doc_id"))),

    // Count-min sketch over the token stream, with the KMV trick: the
    // sketch is a pure function of the data (md5-derived bucket hashes,
    // counter cells = sums), so the APPROXIMATE estimates get an EXACT
    // oracle — including the CMS one-sided-error guarantee (overcount
    // >= 0), which the oracle verifies cell by cell. Scale shape: the
    // d x w counter table is built from the per-token count relation
    // (|vocab| rows, not |corpus| tokens), sums are merge-associative
    // (partition-independent by construction), and the finished sketch
    // is d*w cells — broadcast-sized frequency estimation for any
    // number of probes.
    "q_sketch_cms" -> ((s, d) => {
      import s.implicits._
      def bucket(i: Int, tok: org.apache.spark.sql.Column) =
        (lit(TextOps.hashA(i)) * TextOps.hash31(tok) + lit(TextOps.hashB(i))) %
          TextOps.MersennePrime % CmsW
      val tc = documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      val cells = tc.select(explode(array((0 until CmsD).map { i =>
          struct(lit(i).as("r"), bucket(i, col("tok")).as("b"), col("n"))
        }: _*)).as("e"))
        .select(col("e.r").as("r"), col("e.b").as("b"), col("e.n").as("n"))
        .groupBy(col("r"), col("b")).agg(sum(col("n")).as("c"))
      val probes = TextOps.langMarkers.toMap.apply("en").toDF("tok")
      probes.select(col("tok"), explode(array((0 until CmsD).map { i =>
          struct(lit(i).as("r"), bucket(i, col("tok")).as("b"))
        }: _*)).as("e"))
        .select(col("tok"), col("e.r").as("r"), col("e.b").as("b"))
        .join(broadcast(cells), Seq("r", "b"), "left")
        .groupBy(col("tok"))
        .agg(min(coalesce(col("c"), lit(0L))).as("est_n"))
        .join(tc.withColumnRenamed("n", "exact_n"), Seq("tok"), "left")
        .select(col("tok"), coalesce(col("exact_n"), lit(0L)).as("exact_n"),
          col("est_n"),
          (col("est_n") - coalesce(col("exact_n"), lit(0L))).as("overcount"))
        .orderBy(col("tok"))
    }),

    // Containment similarity over the linear pair set: |A∩B| / |A| —
    // the asymmetric measure that catches SUBSET duplicates (a doc
    // wholly contained in a longer one), which symmetric Jaccard
    // underscores precisely when the length gap is largest. Same
    // shingle-set reuse as q_dedup_jaccard; containment both ways plus
    // the subset flag.
    "q_dedup_containment" -> ((s, d) => {
      // pair assembly by double-emission ([[adjacentPairs]]): one
      // shuffle, shingle sets computed ONCE — the previous id/id+1
      // self-join re-shingled every document on both sides (exchange
      // reuse does not fire across the shifted keys)
      adjacentPairs(
        documents(s, d).select(col("doc_id"),
          TextOps.distinctShingles(col("text"), K).as("sh")),
        "sh")
        .select(col("id_a"), col("id_b"),
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
            .as("n_common"),
          round(size(array_intersect(col("sh_a"), col("sh_b")))
            .cast("double") / size(col("sh_a")), 6).as("contain_a"),
          round(size(array_intersect(col("sh_a"), col("sh_b")))
            .cast("double") / size(col("sh_b")), 6).as("contain_b"))
        .withColumn("subset_dup",
          col("contain_a") >= 0.9 || col("contain_b") >= 0.9)
        .orderBy(col("id_a"))
    }),

    // Near-dup threshold sweep: pair count surviving each candidate
    // cosine threshold — the tuning curve every dedup rollout reads
    // before picking its cutoff. ONE pass over the pair set with
    // conditional sums; no per-threshold re-scan.
    "q_dedup_sweep" -> ((s, d) => {
      val e = embeddings(s, d).select(col("vec_id"),
        VectorOps.toDouble(col("embedding")).as("v"))
      val a = e.select(col("vec_id").as("id_a"), col("v").as("v_a"))
      val b = e.select(col("vec_id").as("id_b"), col("v").as("v_b"))
      val scored = a.join(b, col("id_b") === col("id_a") + 1)
        .select(round(VectorOps.cosine(col("v_a"), col("v_b")), 6)
          .as("cos"))
      scored.agg(
          count(lit(1)).as("n_pairs"),
          sum(when(col("cos") >= 0.7, 1L).otherwise(0L)).as("ge_70"),
          sum(when(col("cos") >= 0.8, 1L).otherwise(0L)).as("ge_80"),
          sum(when(col("cos") >= 0.9, 1L).otherwise(0L)).as("ge_90"))
    }),

    // ANN recall audit: |IVF top-k ∩ exact top-k| / k per query — the
    // accuracy dial for the index (the q_minhash_est of the vector
    // family). At 100 TB only the index is affordable; this query is
    // how you earn the right to trust it, measured on a sample.
    "q_ann_recall" -> ((s, d) => {
      val ivf = annIvfTopK(s, d).select(col("q_id"), col("vec_id"))
      val exact = annExactTopK(s, d, AnnK)
      val hits = exact
        .join(ivf, Seq("q_id", "vec_id"), "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
      exact.select(col("q_id")).distinct()
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)).cast("double") / AnnK, 6)
            .as("recall"))
        .orderBy(col("q_id"))
    }),

    // ---- product quantization (the IVF-PQ compression half) ------------
    // PQ encode under the oracle gate: one broadcast codebook pass, one
    // aggregation (see pqAssign). The codes table IS the production
    // artifact — 8 small ids replacing 64 floats (~32x), the form a
    // 100 TB ANN index actually stores and scans.
    "q_pq_assign" -> ((s, d) =>
      pqAssign(s, d).orderBy(col("vec_id"))),

    // PQ asymmetric-distance (ADC) probe: queries stay RAW, database
    // vectors are their codes — each code joins back to its codeword
    // subvector (8 broadcast joins against the K-row codebook; the
    // codes scan never shuffles), and the approximate distance is the
    // fixed-shape sum of per-subspace squared-L2 terms, computed
    // codeword-vs-query. Top-k per query by (adc, vec_id). This is the
    // scan shape whose cost at 100 TB is the CODES table, not the
    // embeddings.
    "q_pq_adc" -> ((s, d) => {
      val codes = pqAssign(s, d)
      val reps = pqReps(s, d)
      val withWords = (0 until PqM).foldLeft(codes) { (df, j) =>
        df.join(broadcast(reps.select(col("rep_id").as(s"code_$j"),
          col("rv").as(s"rv_$j"))), Seq(s"code_$j"))
      }
      val e = embeddings(s, d).select(col("vec_id"),
        VectorOps.toDouble(col("embedding")).as("v"))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val adc = (0 until PqM).map(j =>
        pqSubDist(col("qv"), col(s"rv_$j"), j)).reduce(_ + _)
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("adc"), col("vec_id"))
      withWords.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), adc.as("adc"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= AnnK)
        .select(col("q_id"), col("rn"), col("vec_id"),
          round(col("adc"), 6).as("adc"))
        .orderBy(col("q_id"), col("rn"))
    }),

    // The COMPOSED IVF-PQ probe — the actual 100 TB ANN index shape
    // (Jégou et al. 2011): coarse quantizer restricts candidates to the
    // query's cell (the IVF equi-join, no corpus scan at scale), PQ
    // codes supply the distances (the ADC reconstruction joins — the
    // only per-candidate data touched is 8 code ids). Cell assignment
    // and codebook share ONE medoid rep set, so index maintenance is a
    // single broadcast relation.
    "q_pq_ivf_adc" -> ((s, d) => {
      val assigned = ivfAssignCk(s, d)
      val codes = pqAssign(s, d)
      val reps = pqReps(s, d)
      val withWords = (0 until PqM).foldLeft(codes) { (df, j) =>
        df.join(broadcast(reps.select(col("rep_id").as(s"code_$j"),
          col("rv").as(s"rv_$j"))), Seq(s"code_$j"))
      }
      val q = assigned.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("cell").as("q_cell"))
      val adc = (0 until PqM).map(j =>
        pqSubDist(col("qv"), col(s"rv_$j"), j)).reduce(_ + _)
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("adc"), col("vec_id"))
      withWords
        .join(assigned.select(col("vec_id"), col("cell")), Seq("vec_id"))
        .join(broadcast(q),
          col("cell") === col("q_cell") && col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), adc.as("adc"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= AnnK)
        .select(col("q_id"), col("rn"), col("vec_id"),
          round(col("adc"), 6).as("adc"))
        .orderBy(col("q_id"), col("rn"))
    }),

    // The PQ recall readout (the q_ann_recall move): ADC top-5 scored
    // against the exact squared-L2 top-5 on the same query batch —
    // the compression-vs-recall trade quantified under the gate every
    // round, like the semantic-dedup and IVF families.
    "q_pq_recall" -> ((s, d) => {
      val approx = queries("q_pq_adc")(s, d)
        .select(col("q_id"), col("vec_id"))
      val e = embeddings(s, d).select(col("vec_id"),
        VectorOps.toDouble(col("embedding")).as("v"))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val dist = (0 until PqM).map(j =>
        pqSubDist(col("qv"), col("v"), j)).reduce(_ + _)
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("dist"), col("vec_id"))
      val exact = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), dist.as("dist"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= AnnK)
      val hits = exact.join(approx, Seq("q_id", "vec_id"), "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
      exact.select(col("q_id")).distinct()
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)).cast("double") / AnnK, 6)
            .as("recall"))
        .orderBy(col("q_id"))
    }),

    // The TRAINED codebook under the oracle gate: per-subspace Lloyd
    // refinement of the medoid init (see pqTrainedBook) — the
    // production quantizer the medoid family is the anchor for. The
    // gated book is bit-identical to DuckDB's unrolled replay, so the
    // fit itself (argmin ties, decimal means, empty-cluster keeps) is
    // pinned, not just its downstream effect.
    "q_pq_train" -> ((s, d) =>
      pqTrainedBook(s, d)
        .select(col("j").cast("long").as("j") +: col("cid") +:
          (1 to PqSub).map(i => round(col(s"c$i"), 6).as(s"c$i")): _*)
        .orderBy(col("j"), col("cid"))),

    // ADC probe against the TRAINED codebook — same plan shape and
    // code budget as q_pq_adc (PqM broadcast reconstruction joins, the
    // codes scan never shuffles), lower quantization error.
    "q_pq_adc_trained" -> ((s, d) => pqAdcTrained(s, d)),

    // The COMPOSED probe with the trained codebook — q_pq_ivf_adc's
    // plan (coarse cell restriction via the IVF equi-join, per-
    // candidate data = 8 code ids) with the Lloyd-refined words
    // supplying the ADC distances. Together with q_pq_adc_trained this
    // makes the trained book a drop-in for the full index, not just
    // the flat scan.
    "q_pq_ivf_adc_trained" -> ((s, d) => {
      val assigned = ivfAssignCk(s, d)
      val book = pqTrainedBook(s, d)
      val withWords = (0 until PqM)
        .foldLeft(pqTrainedCodes(s, d)) { (df, j) =>
          df.join(broadcast(book.filter(col("j") === j)
            .select(col("cid").as(s"code_$j"),
              array((1 to PqSub).map(i => col(s"c$i")): _*).as(s"w_$j"))),
            Seq(s"code_$j"))
        }
      val q = assigned.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("cell").as("q_cell"))
      val adc = (0 until PqM).map(j =>
        pqSubDistLocal(col("qv"), col(s"w_$j"), j)).reduce(_ + _)
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("adc"), col("vec_id"))
      withWords
        .join(assigned.select(col("vec_id"), col("cell")), Seq("vec_id"))
        .join(broadcast(q),
          col("cell") === col("q_cell") && col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), adc.as("adc"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= AnnK)
        .select(col("q_id"), col("rn"), col("vec_id"),
          round(col("adc"), 6).as("adc"))
        .orderBy(col("q_id"), col("rn"))
    }),

    // The before/after recall readout the training exists for: trained
    // ADC top-5 scored against the exact squared-L2 top-5 — compare
    // row-for-row with q_pq_recall (the medoid book at the same code
    // budget) to see the Lloyd rounds' recall gain under the gate.
    "q_pq_recall_trained" -> ((s, d) => {
      val approx = pqAdcTrained(s, d).select(col("q_id"), col("vec_id"))
      val e = embeddings(s, d).select(col("vec_id"),
        VectorOps.toDouble(col("embedding")).as("v"))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val dist = (0 until PqM).map(j =>
        pqSubDist(col("qv"), col("v"), j)).reduce(_ + _)
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("dist"), col("vec_id"))
      val exact = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), dist.as("dist"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= AnnK)
      val hits = exact.join(approx, Seq("q_id", "vec_id"), "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
      exact.select(col("q_id")).distinct()
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)).cast("double") / AnnK, 6)
            .as("recall"))
        .orderBy(col("q_id"))
    }),

    // Per-subspace quantization-error readout: mean squared distance
    // from each subvector to its NEAREST codeword, medoid book vs
    // trained book — the objective Lloyd provably does not increase,
    // so the gated `improved` boolean per subspace is the training's
    // contract, not a hope. d2 is pre-rounded to 6 decimals and summed
    // in DECIMAL(18,6) so the mean is addition-order-free (the
    // q_kmeans_step discipline).
    "q_pq_distortion" -> ((s, d) => {
      val e = embeddings(s, d).select(col("vec_id"),
        VectorOps.toDouble(col("embedding")).as("v"))
      val sub = pqSubPoints(e).localCheckpoint()
      def mse(book: DataFrame, out: String): DataFrame =
        sub.join(broadcast(book), Seq("j"))
          .groupBy(col("vec_id"), col("j"))
          .agg(min(pqSubDist8("")).as("d2"))
          .groupBy(col("j"))
          .agg((sum(round(col("d2"), 6).cast(DecimalType(18, 6)))
              .cast("double") / count(lit(1))).as(out))
      mse(pqMedoidBook(s, d), "m_med")
        .join(mse(pqTrainedBook(s, d), "m_tr"), Seq("j"))
        .select(col("j").cast("long").as("j"),
          round(col("m_med"), 6).as("mse_medoid"),
          round(col("m_tr"), 6).as("mse_trained"),
          (round(col("m_tr"), 6) < round(col("m_med"), 6)).as("improved"))
        .orderBy(col("j"))
    }),

    // The recall BEFORE/AFTER at a statistically meaningful probe
    // width (PqProbeN queries x top-5): one gated row holding both
    // books' hit counts against the exact top-5. The 5-query per-row
    // readouts (q_pq_recall / q_pq_recall_trained) stay as the
    // per-query anchors; this row is where the training's gain is
    // measured without small-sample noise. Recall means are ratios of
    // integer hit counts — no float-fold portability surface.
    "q_pq_recall_gain" -> ((s, d) => {
      val e = embeddings(s, d).select(col("vec_id"),
        VectorOps.toDouble(col("embedding")).as("v"))
      val q = e.filter(col("vec_id") < PqProbeN)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val distX = (0 until PqM).map(j =>
        pqSubDist(col("qv"), col("v"), j)).reduce(_ + _)
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("dist"), col("vec_id"))
      val wA = Window.partitionBy(col("q_id"))
        .orderBy(col("adc"), col("vec_id"))
      val exactDf = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), distX.as("dist"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= AnnK)
        .select(col("q_id"), col("vec_id"))
      // medoid-book ADC top-5 (the q_pq_adc plan at probe width)
      val reps = pqReps(s, d)
      val withWords = (0 until PqM).foldLeft(pqAssign(s, d)) { (df, j) =>
        df.join(broadcast(reps.select(col("rep_id").as(s"code_$j"),
          col("rv").as(s"rv_$j"))), Seq(s"code_$j"))
      }
      val adcM = (0 until PqM).map(j =>
        pqSubDist(col("qv"), col(s"rv_$j"), j)).reduce(_ + _)
      val raMDf = withWords.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), adcM.as("adc"))
        .withColumn("rn", row_number().over(wA))
        .filter(col("rn") <= AnnK)
        .select(col("q_id"), col("vec_id"))
      // trained-book ADC top-5 (the pqAdcTrained plan at probe width).
      // Force the shared memos BEFORE the race below —
      // TrieMap.getOrElseUpdate is not once-only under contention, and
      // two arms paying the Lloyd fit would be slower, not wrong.
      val book = pqTrainedBook(s, d)
      val withWordsT = (0 until PqM)
        .foldLeft(pqTrainedCodes(s, d)) { (df, j) =>
          df.join(broadcast(book.filter(col("j") === j)
            .select(col("cid").as(s"code_$j"),
              array((1 to PqSub).map(i => col(s"c$i")): _*).as(s"w_$j"))),
            Seq(s"code_$j"))
        }
      val adcT = (0 until PqM).map(j =>
        pqSubDistLocal(col("qv"), col(s"w_$j"), j)).reduce(_ + _)
      val raTDf = withWordsT.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), adcT.as("adc"))
        .withColumn("rn", row_number().over(wA))
        .filter(col("rn") <= AnnK)
        .select(col("q_id"), col("vec_id"))
      // the exact and two ADC top-k chains are independent job chains
      // over shared memoized inputs — run all three concurrently
      // (guide §2.6) and join the tiny checkpointed results after;
      // each chain's rows are unchanged
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val (exact, raM, raT) = try {
        val ec = scala.concurrent.ExecutionContext
          .fromExecutorService(pool)
        val fE = scala.concurrent.Future(exactDf.localCheckpoint())(ec)
        val fM = scala.concurrent.Future(raMDf.localCheckpoint())(ec)
        val rT = raTDf.localCheckpoint()
        val inf = scala.concurrent.duration.Duration.Inf
        (scala.concurrent.Await.result(fE, inf),
          scala.concurrent.Await.result(fM, inf), rT)
      } finally pool.shutdown()
      val hm = exact.join(raM, Seq("q_id", "vec_id"), "left_semi")
        .agg(count(lit(1)).as("hits_medoid"))
      val ht = exact.join(raT, Seq("q_id", "vec_id"), "left_semi")
        .agg(count(lit(1)).as("hits_trained"))
      hm.crossJoin(ht).select(
        lit(PqProbeN.toLong).as("n_q"),
        col("hits_medoid"), col("hits_trained"),
        round(col("hits_medoid").cast("double") / (PqProbeN * AnnK), 6)
          .as("recall_medoid"),
        round(col("hits_trained").cast("double") / (PqProbeN * AnnK), 6)
          .as("recall_trained"))
    }),

    // The PERSISTED trained-PQ index — the production shape the
    // session-memoized book/codes stand in for (the
    // q_dedup_index_persist move applied to the vector side): the FIT
    // job writes both artifacts to the cluster FS — the K-per-subspace
    // codebook and the PQ-coded corpus (8 one-byte-ish code ids per
    // vector, the ~32x-compressed form that makes petabyte ANN
    // serveable) — and the probe runs in a FRESH SESSION against the
    // on-disk tables, never re-fitting. The gated top-k must equal
    // q_pq_adc_trained's row for row (disk round-trip changes
    // nothing); probe_from_disk pins that the probe really read the
    // written files. Codes are hash-clustered and sorted by vec_id —
    // the layout a later per-id lookup or merge prunes on.
    "q_pq_index_persist" -> ((s, d) => {
      val dir = Relational.rtDir("pqidx", d)
      // the FIT job's two artifacts are deterministic fixture; the
      // fresh-session probe and maintenance append are the teeth
      Relational.cachedPrologue("pqidx", d, dir) { b =>
        pqTrainedBook(s, d).coalesce(1)
          .write.mode("overwrite").parquet(s"$b/book")
        pqTrainedCodes(s, d).repartition(4, col("vec_id"))
          .sortWithinPartitions(col("vec_id"))
          .write.mode("overwrite").parquet(s"$b/codes")
      }
      val s2 = s.newSession()
      val book = s2.read.parquet(s"$dir/book")
      val codes = s2.read.parquet(s"$dir/codes")
      val fromDisk = book.inputFiles.nonEmpty && codes.inputFiles.nonEmpty
      // probe pinned BEFORE the append (eager localCheckpoint) — see
      // q_dedup_semantic_index_persist's listing-snapshot note
      val out = pqAdcProbe(s2, d, book, codes).localCheckpoint()
      // MAINTENANCE: today's batch encodes against the book AS WRITTEN
      // (never a refit) and its codes append to the index — upkeep
      // costs the batch; tomorrow's probe sees corpus + batch
      val batch = vecsWithNearDups(s2, d)
        .filter(col("vec_id") =!= col("base_id"))
        .select(col("vec_id"), col("v"))
      pqEncode(batch, book).repartition(1, col("vec_id"))
        .sortWithinPartitions(col("vec_id"))
        .write.mode("append").parquet(s"$dir/codes")
      val maintained = Relational.diskRowCount(s2, s"$dir/codes") ==
        vecsWithNearDups(s2, d).count()
      out.withColumn("probe_from_disk", lit(fromDisk))
        .withColumn("index_maintained", lit(maintained))
    }),

    // PQ-index upkeep as a STREAMING job — the q_stream_index_maintain
    // pattern applied to the compressed-codes side. Given the persisted
    // trained book (K x PqM rows, driver-held by construction), PQ
    // encode is MAP-ONLY ([[pqEncodeBroadcast]]: one native-expression
    // argmin per row against the TORRENT-BROADCAST book — no join, no
    // aggregation, and no K x M x dim literal in the task binary), so
    // the codes table is BUILT AND MAINTAINED by one Structured
    // Streaming query:
    // corpus as micro-batch 1 (ingest day 0), today's batch as
    // micro-batch 2 (day 1), exactly-once through checkpointed source
    // offsets; the accumulated SINK IS the codes index. The
    // fresh-session ADC probe prunes to day 0 (the as-of-yesterday
    // index) and must equal the batch-built persisted-index probe bit
    // for bit; the boolean pins one code row per vector ever ingested.
    "q_stream_pq_index_maintain" -> ((s, d) => {
      val base = Relational.rtDir("pqidxm", d)
      Relational.deleteRecursive(java.nio.file.Paths.get(base))
      pqTrainedBook(s, d).coalesce(1)
        .write.mode("overwrite").parquet(s"$base/book")
      val bookL = s.read.parquet(s"$base/book").collect()
        .map(r => (r.getInt(0), r.getLong(1),
          (2 until 2 + PqSub).map(r.getDouble).toArray))
        .groupBy(_._1)
        .map { case (j, rows) => j -> rows.map(r => (r._2, r._3)) }
      val bookBc = s.sparkContext.broadcast(
        (0 until PqM).map(bookL(_)).toArray)
      val all = vecsWithNearDups(s, d)
      val dir = java.nio.file.Files.createTempDirectory("graft_pqidxm_")
      try {
        val t0 = System.currentTimeMillis()
        Relational.stageStreamFile(
          all.filter(col("vec_id") === col("base_id"))
            .select(col("vec_id"), col("v"), lit(0).as("ingest_day")),
          dir, "0_vecs.parquet", t0 - 60000)
        Relational.stageStreamFile(
          all.filter(col("vec_id") =!= col("base_id"))
            .select(col("vec_id"), col("v"), lit(1).as("ingest_day")),
          dir, "1_vecs.parquet", t0 - 30000)
        val schema = s.read.parquet(s"$dir/0_vecs.parquet").schema
        val raw = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(dir.toString)
        Relational.drainStreamFiles(pqEncodeBroadcast(raw, bookBc),
          s"$base/stream")
        val s2 = s.newSession()
        val bookD = s2.read.parquet(s"$base/book")
        val codesD = s2.read.parquet(s"$base/stream/out")
        val maintained = codesD.count() == all.count()
        pqAdcProbe(s2, d, bookD,
            codesD.filter(col("ingest_day") === 0).drop("ingest_day"))
          .withColumn("probe_from_disk", lit(codesD.inputFiles.nonEmpty))
          .withColumn("index_maintained", lit(maintained))
      } finally Relational.deleteRecursive(dir)
    }),

    // DELETION PROPAGATION for the PQ codes index — the
    // q_dedup_index_delete arm on the vector side: an upstream removal
    // request (vec_id % 10 == 7, 10% of the corpus) drives
    // [[sources.SnapshotTable.commitDelete]] over the codes snapshot
    // table (touched-files-only copy-on-write behind one pointer
    // swing; the book is written once and stays plain parquet), and
    // the fresh-session ADC probe must equal the probe over the
    // filtered code relation — deleted vectors can no longer be
    // RETRIEVED, the privacy contract an ANN index actually owes.
    // Unlike the band-index arm, spread tombstones touch every file of
    // a vec_id-clustered codes table BY NATURE (the keys spray), so the
    // gate pins row accounting (`deleted_gone`), not file locality;
    // PqDeleteSpec pins that the deletion has retrieval teeth (the
    // top-k actually changes).
    "q_pq_index_delete" -> ((s, d) => {
      val dir = Relational.rtDir("pqdel", d)
      // the persisted book+codes artifacts are deterministic fixture;
      // the takedown teeth run on this gate's own copy
      Relational.cachedPrologue("pqdel", d, dir) { b =>
        pqTrainedBook(s, d).coalesce(1)
          .write.mode("overwrite").parquet(s"$b/book")
        graft.sources.SnapshotTable.commitAppend(
          pqTrainedCodes(s, d), s"$b/codes", "vec_id", 4)
      }
      val nCorpus = embeddings(s, d).count()
      val tomb = embeddings(s, d).filter(col("vec_id") % 10 === 7)
        .select(col("vec_id"))
      val nTomb = tomb.count()
      val (rowsDeleted, _) = graft.sources.SnapshotTable.commitDelete(
        s, s"$dir/codes", "vec_id", tomb, "vec_id")
      val s2 = s.newSession()
      val bookD = s2.read.parquet(s"$dir/book")
      val codesD = graft.sources.SnapshotTable.read(s2, s"$dir/codes")
      val tomb2 = embeddings(s2, d).filter(col("vec_id") % 10 === 7)
        .select(col("vec_id"))
      val deletedGone = rowsDeleted == nTomb &&
        codesD.count() == nCorpus - nTomb &&
        codesD.join(broadcast(tomb2), Seq("vec_id"), "left_semi")
          .count() == 0
      pqAdcProbe(s2, d, bookD, codesD)
        .withColumn("deleted_gone", lit(deletedGone))
    }),

    // The RECALL-vs-K curve the code budget is chosen from: train a
    // codebook at each width K in PqSweepKs (width-k deterministic
    // init, same Lloyd rounds), ADC top-5 against the exact top-5, one
    // gated row per K. 0.20 recall at K=10 is honest but meaningless
    // without knowing what K=32/64 buys — this query is where a user
    // BUYS recall with known storage cost (each code id's range is K,
    // so K=64 codes cost 6 bits/subspace vs ~3.3 at 10). The exact
    // top-5 is computed ONCE and checkpointed; each K's fit reuses the
    // same checkpointed subvector relation.
    "q_pq_codebook_sweep" -> ((s, d) => {
      val e = embeddings(s, d).select(col("vec_id"),
        VectorOps.toDouble(col("embedding")).as("v"))
      val sub = pqSubPoints(e).localCheckpoint()
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val distX = (0 until PqM).map(j =>
        pqSubDist(col("qv"), col("v"), j)).reduce(_ + _)
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("dist"), col("vec_id"))
      // the exact top-5 and the multi-width Lloyd fit are independent
      // job chains over the same checkpointed inputs — overlap them
      // (guide §2.6) so the exact pass's tasks back-fill the fit's
      // collect-bound idle cores; values of both are unchanged
      val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
      // the try/finally spans the init/fit calls too: were pqInitBook
      // or pqLloydMulti to throw outside it, the non-daemon pool
      // thread would leak and keep the JVM alive after the failure
      val (exact, book) = try {
        val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
        val exactF = scala.concurrent.Future {
          e.join(broadcast(q), col("vec_id") =!= col("q_id"))
            .select(col("q_id"), col("vec_id"), distX.as("dist"))
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") <= AnnK)
            .select(col("q_id"), col("vec_id")).localCheckpoint()
        }(ec)
        // ALL widths train, encode, and probe in ONE keyed chain
        val init = PqSweepKs.map(k =>
          pqInitBook(s, d, k).withColumn("kw", lit(k)))
          .reduce(_ unionByName _)
        val b = pqLloydMulti(sub, init)
        (scala.concurrent.Await.result(exactF,
          scala.concurrent.duration.Duration.Inf), b)
      } finally pool.shutdown()
      // Measured, stands as TWO stages: fusing argmin+pivot into one
      // (kw, vec_id) aggregation puts 8 struct-typed min(when(...))
      // buffers in the aggregate, which degrades sharply over the
      // sweep's full join blow-up (3 widths x up to 64 codewords per
      // subspace) — same-subset A/B showed 8.4 -> 15.5 s. The
      // (kw, vec_id, j)-grain struct-min followed by the long-typed
      // pivot keeps the wide second stage hash-aggregable; the j-grain
      // first stage carries one struct buffer over the same rows.
      val long = sub.join(broadcast(book), Seq("j"))
        .groupBy(col("kw"), col("vec_id"), col("j"))
        .agg(min(struct(pqSubDist8("").as("d"), col("cid").as("c")))
          .getField("c").as("cid"))
      val pivots = (0 until PqM).map(j =>
        max(when(col("j") === j, col("cid"))).as(s"code_$j"))
      val codes = long.groupBy(col("kw"), col("vec_id"))
        .agg(pivots.head, pivots.tail: _*)
      val withWords = (0 until PqM).foldLeft(codes) { (df, j) =>
        df.join(broadcast(book.filter(col("j") === j)
          .select(col("kw"), col("cid").as(s"code_$j"),
            array((1 to PqSub).map(i => col(s"c$i")): _*).as(s"w_$j"))),
          Seq("kw", s"code_$j"))
      }
      val adc = (0 until PqM).map(j =>
        pqSubDistLocal(col("qv"), col(s"w_$j"), j)).reduce(_ + _)
      val wA = Window.partitionBy(col("kw"), col("q_id"))
        .orderBy(col("adc"), col("vec_id"))
      val ra = withWords.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("kw"), col("q_id"), col("vec_id"), adc.as("adc"))
        .withColumn("rn", row_number().over(wA))
        .filter(col("rn") <= AnnK)
        .select(col("kw"), col("q_id"), col("vec_id"))
      val hitsByK = ra.join(exact, Seq("q_id", "vec_id"), "left_semi")
        .groupBy(col("kw")).agg(count(lit(1)).as("h"))
      // widths with ZERO hits must still emit their row
      val widths = PqSweepKs.map(k =>
        s.range(1).select(lit(k).as("kw"))).reduce(_ unionByName _)
      widths.join(hitsByK, Seq("kw"), "left")
        .select(col("kw").cast("long").as("n_codewords"),
          coalesce(col("h"), lit(0L)).as("hits"),
          round(coalesce(col("h"), lit(0L)).cast("double") / (5 * AnnK), 6)
            .as("recall"))
        .orderBy(col("n_codewords"))
    }),

    // The DRIFT-TRIGGERED REFIT gate — the last arm of the persisted
    // PQ index's lifecycle (persist -> maintain -> compact -> REFIT).
    // The persisted index encodes every daily batch against the book
    // AS WRITTEN (q_pq_index_persist pins "never a refit"), but a real
    // corpus drifts: after enough shifted batches the frozen book's
    // distortion degrades recall with no signal. The decision arm
    // gated here: per-batch quantization MSE against the frozen book
    // ([[pqMseTotal]], the q_pq_distortion machinery collapsed to one
    // number) compared to the book's training-time MSE — when the
    // ratio exceeds PqRefitThr, REFIT (Lloyd warm-started FROM the
    // frozen book over corpus+batch — PqIters scans of the corpus,
    // never a from-scratch re-init) and RE-ENCODE the whole index;
    // otherwise append the batch's codes as usual. Both decision arms
    // run, on batches CONSTRUCTED to land on opposite sides: `stable`
    // is an unshifted 30% resample (ratio ~1 -> append), `drift` the
    // same rows shifted +PqRefitDelta per component (ratio >> thr ->
    // refit). The oracle recomputes the MSEs, the decision, AND the
    // warm-start refit chain, so the gated row pins: the decision
    // boolean, Lloyd's non-increase contract (`improved`: post-refit
    // MSE over corpus+batch <= frozen-book MSE over the same points —
    // monotone under the shared per-point rounding, so it can never
    // flip between engines), the re-encoded index row count, and the
    // fresh-session disk probe equalling the in-memory probe bit for
    // bit (probe_match; booleans pinned TRUE by the twin). Refit cost
    // scales with the CORPUS (PqIters scans + one re-encode), not
    // with how many batches preceded it — the 100x exponent is the
    // scaling claim.
    "q_pq_refit_gate" -> ((s, d) => {
      val base = Relational.rtDir("pqrefit", d)
      Relational.deleteRecursive(java.nio.file.Paths.get(base))
      val e = embeddings(s, d).select(col("vec_id"),
        VectorOps.toDouble(col("embedding")).as("v"))
      val sub = pqSubPoints(e).localCheckpoint()
      val book = pqTrainedBook(s, d)
      val nCorpus = e.count()
      val nBatch = e.filter(col("vec_id") % 10 < 3).count()
      val mseTrain = pqMseTotal(sub, book)
      def arm(name: String, delta: Double): DataFrame = {
        val dir = s"$base/$name"
        // both arms open on the IDENTICAL frozen book + corpus codes —
        // one cached build serves both copies ([[cachedPrologue]])
        Relational.cachedPrologue("pqrf", d, dir) { b =>
          book.coalesce(1).write.mode("overwrite").parquet(s"$b/book")
          pqTrainedCodes(s, d).repartition(4, col("vec_id"))
            .sortWithinPartitions(col("vec_id"))
            .write.mode("overwrite").parquet(s"$b/codes")
        }
        // today's batch, long-form: a 30% resample of the corpus,
        // vec_ids offset out of the corpus id space, each component
        // shifted by `delta` (0.0 = bit-exact copies, no arithmetic)
        val shifted = (1 to PqSub).map(i =>
          (if (delta == 0.0) col(s"s$i")
           else col(s"s$i") + lit(delta)).as(s"s$i"))
        // batch vec_ids take NEGATED keys: disjoint from every positive
        // corpus id at any scale replica (an additive offset silently
        // depends on the scale harness's per-replica key spacing — the
        // q_snapshot_merge collision post-mortem's convention)
        val subB = sub.filter(col("vec_id") % 10 < 3)
          .select((-col("vec_id") - lit(1L)).as("vec_id") +:
            col("j") +: shifted: _*)
          .localCheckpoint()
        // batch and mixed MSE from ONE tagged job: batch vec_ids are
        // negated so corpus/batch (vec_id, j) groups are disjoint and
        // the exact decimal sums ADD — pqMseOf reproduces the Spark
        // expression bit for bit (oracle-gated values)
        val sums = pqMseSums(
          sub.withColumn("_g", lit(0))
            .unionByName(subB.withColumn("_g", lit(1))), book)
        val ((sC, nC), (sB, nB)) = (sums(0), sums(1))
        val mseBatch = pqMseOf(sB, nB)
        val refit = mseBatch > PqRefitThr * mseTrain
        val subAll = sub.unionByName(subB)
        val mseMixed = pqMseOf(sC.add(sB), nC + nB)
        val (book2, codesMem, mseAfter) =
          if (refit) {
            val b2 = pqLloyd(subAll.localCheckpoint(), book)
            val c2 = pqEncodeSub(subAll, b2)
            b2.coalesce(1).write.mode("overwrite").parquet(s"$dir/book")
            c2.repartition(4, col("vec_id"))
              .sortWithinPartitions(col("vec_id"))
              .write.mode("overwrite").parquet(s"$dir/codes")
            (b2, c2, pqMseTotal(subAll, b2))
          } else {
            val cb = pqEncodeSub(subB, book)
            cb.repartition(1, col("vec_id"))
              .sortWithinPartitions(col("vec_id"))
              .write.mode("append").parquet(s"$dir/codes")
            (book, pqTrainedCodes(s, d).unionByName(cb), mseMixed)
          }
        val s2 = s.newSession()
        val bookD = s2.read.parquet(s"$dir/book")
        val codesD = s2.read.parquet(s"$dir/codes")
        val fromDisk = bookD.inputFiles.nonEmpty && codesD.inputFiles.nonEmpty
        val nIndex = codesD.count()
        // the disk and in-memory probes are independent job chains
        // (fresh session vs live session, disk artifacts vs memoized
        // relations) — overlap them inside the arm (guide §2.6); the
        // collected sets are unchanged
        val pPool = java.util.concurrent.Executors.newFixedThreadPool(1)
        val (pd, pm) = try {
          val pec = scala.concurrent.ExecutionContext
            .fromExecutorService(pPool)
          val fPd = scala.concurrent.Future(pqAdcProbe(s2, d, bookD, codesD)
            .collect().map(_.toSeq).toSet)(pec)
          val pmV = pqAdcProbe(s, d, book2, codesMem)
            .collect().map(_.toSeq).toSet
          (scala.concurrent.Await.result(fPd,
            scala.concurrent.duration.Duration.Inf), pmV)
        } finally pPool.shutdown()
        val probeMatch = pd.nonEmpty && pd == pm
        s.range(1).select(
          lit(name).as("arm"),
          lit(nCorpus).as("n_corpus"), lit(nBatch).as("n_batch"),
          lit(mseTrain).as("mse_train"), lit(mseBatch).as("mse_batch"),
          lit(refit).as("refit"),
          lit(mseMixed).as("mse_mixed"), lit(mseAfter).as("mse_after"),
          lit(mseAfter <= mseMixed).as("improved"),
          lit(nIndex).as("n_index"),
          lit(fromDisk).as("probe_from_disk"),
          lit(probeMatch).as("probe_match"))
      }
      // the two decision arms are INDEPENDENT job chains (separate
      // dirs, separate fresh sessions, shared inputs all checkpointed
      // or memoized above) of many small driver-latency-bound actions —
      // run them as concurrent jobs (guide §2.6: overlap independent
      // jobs so one arm's task tails back-fill the other's idle cores).
      // Each arm's computation and the combined row set are unchanged.
      pqTrainedCodes(s, d) // memoize BEFORE racing arms (TrieMap's
      // getOrElseUpdate would let both arms pay the encode)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try {
        val fa = scala.concurrent.Future(arm("stable", 0.0))(ec)
        val fb = scala.concurrent.Future(arm("drift", PqRefitDelta))(ec)
        val inf = scala.concurrent.duration.Duration.Inf
        scala.concurrent.Await.result(fa, inf)
          .unionByName(scala.concurrent.Await.result(fb, inf))
          .orderBy(col("arm"))
      } finally pool.shutdown()
    }),

    // Bigram conditional-probability table (the n-gram LM building
    // block): bigram extraction is map-only (2-shingles), the
    // conditioning total comes from a window over the AGGREGATED
    // (cur, nxt) relation — |distinct bigrams| rows, never the corpus —
    // so the second pass costs nothing at scale.
    "q_bigram_lm" -> ((s, d) => {
      val pairCnt = documents(s, d)
        .select(explode(TextOps.shingles(col("text"), 2)).as("bg"))
        .select(split(col("bg"), " ").getItem(0).as("cur"),
          split(col("bg"), " ").getItem(1).as("nxt"))
        .groupBy(col("cur"), col("nxt")).agg(count(lit(1)).as("n_pair"))
      pairCnt
        .withColumn("n_cur",
          sum(col("n_pair")).over(Window.partitionBy(col("cur"))))
        .filter(col("n_pair") >= 5)
        .select(col("cur"), col("nxt"), col("n_pair"),
          round(col("n_pair").cast("double") / col("n_cur"), 6)
            .as("p_next"))
        .orderBy(col("cur"), col("nxt"))
    }),

    // Per-document likelihood under the corpus bigram LM — the
    // perplexity-filter shape (docs whose transitions the corpus finds
    // improbable score low) with NONE of perplexity's portability traps:
    // no ln() (not correctly-rounded IEEE) and no order-sensitive float
    // sum. Each conditional probability is anchored to 6 decimals and
    // the per-doc accumulation runs in exact DECIMAL arithmetic, so the
    // score is a pure function of the data. Corpus statistics are two
    // SUM windows over the aggregated (doc, bigram) relation — the
    // explosion happens once.
    "q_lm_score" -> ((s, d) => {
      val per = documents(s, d)
        .select(col("doc_id"),
          explode(TextOps.shingles(col("text"), 2)).as("bg"))
        .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("n_occ"))
        .withColumn("w1", split(col("bg"), " ").getItem(0))
      per
        .withColumn("c_big",
          sum(col("n_occ")).over(Window.partitionBy(col("bg"))))
        .withColumn("c_pre",
          sum(col("n_occ")).over(Window.partitionBy(col("w1"))))
        .withColumn("p6",
          round(col("c_big").cast("double") / col("c_pre"), 6)
            .cast("decimal(18,6)"))
        .groupBy(col("doc_id"))
        .agg(sum(col("n_occ")).as("m"),
          // micro-probability units: p6 has exactly 6 decimals, so
          // *1e6 is an exact integer — from here on everything is
          // integer arithmetic and the score cannot hit a float
          // rounding boundary (a first draft rounded s/m to 6 decimals
          // and one doc landed exactly on a half: engines disagreed)
          sum((col("n_occ") * col("p6") * 1000000).cast("long"))
            .as("p_sum_micro"))
        .select(col("doc_id"), col("m"), col("p_sum_micro"),
          (col("p_sum_micro") / col("m")).cast("long").as("avg_p_micro"))
        .orderBy(col("doc_id"))
    })
  )

  // ---- oracle twins ------------------------------------------------------
  // The hash-heavy SQL is generated from the SAME constants as the Spark
  // side (seeds, bands, marker lists) so the two cannot drift.

  /** DuckDB expression: lowercased whitespace tokens of `c`. */
  private def sqlTokens(c: String) = s"string_split(lower($c), ' ')"

  /** Shared CTEs of the semantic-dedup oracles: normalized embedding
    * relation (e), per-label medoid reps, best-cell assignment.
    */
  private val semanticSqlBase: String =
    """e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
      |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |      CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings),
      |reps AS (SELECT r.rep_id, e.v AS rv, e.nrm AS rn_
      |  FROM (SELECT label, min(vec_id) AS rep_id FROM e GROUP BY label) r
      |  JOIN e ON e.vec_id = r.rep_id),
      |assigned AS (SELECT vec_id, v, nrm, rep_id AS cell FROM (
      |  SELECT e.vec_id, e.v, e.nrm, reps.rep_id,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY list_dot_product(e.v, reps.rv) / (e.nrm * reps.rn_)
      |        DESC, reps.rep_id) AS cell_rn
      |  FROM e CROSS JOIN reps) WHERE cell_rn = 1)""".stripMargin

  /** Exact within-cell dropped set (body of a DISTINCT-vec_id CTE). */
  private def semanticSqlExactDropped: String =
    s"""SELECT DISTINCT b.vec_id
       |  FROM assigned b JOIN assigned a ON a.cell = b.cell
       |    AND a.vec_id < b.vec_id
       |    AND list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= $SemThr""".stripMargin

  /** Adaptive band-key relation for one band geometry, CTE names
    * suffixed so several configs coexist in one sweep query: bits =
    * ceil(log2(ceil(n/SemTarget))) via the same integer compare-chain
    * as the engine (no libm log2), capped at `maxBits`.
    */
  private def semanticSqlBandedCfg(bands: Int, stride: Int, maxBits: Int,
      sfx: String): String =
    s"""nb$sfx AS (SELECT (SELECT sum(CASE WHEN m > (1 << k.k) THEN 1 ELSE 0
       |      END)::INT FROM range(0, $maxBits) k(k)) AS bits
       |  FROM (SELECT (count(*) + ${SemTarget - 1}) // $SemTarget AS m
       |        FROM assigned)),
       |banded$sfx AS (SELECT vec_id, cell, v, nrm, bnd.band,
       |    -- array_to_string of an EMPTY list is NULL in DuckDB but
       |    -- '' in Spark's array_join; coalesce so the bits=0
       |    -- degenerate case keeps one joinable bucket per band
       |    coalesce(array_to_string(
       |      [CASE WHEN v[i] >= 0 THEN '1' ELSE '0' END
       |       for i in range(bnd.band*$stride+1, bnd.band*$stride+nb$sfx.bits+1)],
       |      ''), '') AS key
       |  FROM assigned CROSS JOIN nb$sfx
       |  CROSS JOIN (VALUES ${(0 until bands).map(b => s"($b)").mkString(", ")}) bnd(band))""".stripMargin

  /** The default band geometry (the one q_dedup_semantic_scaled ships). */
  private val semanticSqlBanded: String =
    semanticSqlBandedCfg(SemBands, SemStride, SemMaxBits, "")

  /** Band-bucketed dropped set (body of a DISTINCT-vec_id CTE). */
  private def semanticSqlScaledDroppedCfg(sfx: String): String =
    s"""SELECT DISTINCT b.vec_id
       |  FROM banded$sfx b JOIN banded$sfx a ON a.cell = b.cell
       |    AND a.band = b.band AND a.key = b.key
       |    AND a.vec_id < b.vec_id
       |    AND list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= $SemThr""".stripMargin

  private def semanticSqlScaledDropped: String = semanticSqlScaledDroppedCfg("")

  // ---- rebits oracle CTE generators, shared by the batch gate
  // (q_dedup_semantic_rebits) and its streaming twin
  // (q_stream_semantic_rebits) -----------------------------------------

  /** The 4 shifted corpus replicas of the growth arm — shifts as parsed
    * decimal literals (0.001..0.004), the same doubles both engines
    * parse.
    */
  private val semanticSqlRepShifts: String = (1 to 4).map(r =>
    s"""SELECT vec_id + ${r * 10000000L} AS vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> x + 0.00$r) AS v
       |  FROM embeddings""".stripMargin).mkString("\nUNION ALL\n")

  /** 1-row adaptive-width CTE over the count relation `src`. */
  private def semanticSqlWidthCte(name: String, src: String): String =
    s"""$name AS (SELECT (SELECT sum(CASE WHEN m > (1 << k.k)
       |      THEN 1 ELSE 0 END)::INT FROM range(0, $SemMaxBits) k(k))
       |    AS bits
       |  FROM (SELECT (n + ${SemTarget - 1}) // $SemTarget AS m
       |        FROM $src))""".stripMargin

  /** Band relation of `src` at the width in 1-row CTE `nb`. */
  private def semanticSqlBandAtWidth(name: String, src: String,
      nb: String): String =
    s"""$name AS (SELECT vec_id, cell, v, nrm, bnd.band,
       |    coalesce(array_to_string(
       |      [CASE WHEN v[i] >= 0 THEN '1' ELSE '0' END
       |       for i in range(bnd.band*$SemStride+1, bnd.band*$SemStride+$nb.bits+1)],
       |      ''), '') AS key
       |  FROM $src CROSS JOIN $nb
       |  CROSS JOIN (VALUES ${(0 until SemBands).map(b => s"($b)").mkString(", ")}) bnd(band))""".stripMargin

  /** Distinct verified (new_id, match_id) hits of batch `bb` vs `idx`. */
  private def semanticSqlHitsCte(name: String, idx: String,
      bb: String): String =
    s"""$name AS (SELECT DISTINCT b.vec_id AS new_id,
       |    c.vec_id AS match_id
       |  FROM $idx c JOIN $bb b ON c.cell = b.cell
       |    AND c.band = b.band AND c.key = b.key
       |    AND list_dot_product(c.v, b.v) / (c.nrm * b.nrm)
       |      >= $SemThr)""".stripMargin

  /** The gated readout columns of one rebits arm. */
  private def semanticSqlRebitsCols(nStanding: String, nb0: String,
      nbA: String, hits: String): String =
    s"""  (SELECT n FROM ns) AS n_create,
       |  (SELECT n FROM $nStanding) + (SELECT n FROM nbatch)
       |    AS n_total,
       |  (SELECT n FROM $nStanding) + (SELECT n FROM nbatch)
       |    >= 2 * (SELECT n FROM ns) AS reband,
       |  (SELECT bits FROM $nb0) AS bits_before,
       |  (SELECT bits FROM $nbA) AS bits_after,
       |  $SemBands * (SELECT n FROM $nStanding) AS index_rows,
       |  (SELECT n FROM nbatch) AS probe_new,
       |  (SELECT count(DISTINCT new_id) FROM $hits) AS probe_dups,
       |  (SELECT count(*) FROM $hits) AS probe_matches,
       |  (SELECT min(match_id) FROM $hits) AS probe_first""".stripMargin

  /** DuckDB twin of [[pqSubDist]]: same terms, same left-associated
    * order, parenthesized per subspace so the float grouping matches
    * the Spark fold exactly.
    */
  private def sqlPqSubDist(a: String, b: String, j: Int): String =
    "(" + (0 until PqSub).map { i =>
      val idx = j * PqSub + i + 1
      s"($a[$idx]-$b[$idx])*($a[$idx]-$b[$idx])"
    }.mkString(" + ") + ")"

  /** Shared CTEs of the PQ oracles: double-cast embeddings and the
    * label-medoid codebook.
    */
  private val pqSqlBase: String =
    """e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |reps AS (SELECT r.rep_id, e.v AS rv
      |  FROM (SELECT label, min(vec_id) AS rep_id FROM e GROUP BY label) r
      |  JOIN e ON e.vec_id = r.rep_id)""".stripMargin

  /** Per-subspace argmin CTEs (c0..c7) + the assembled codes relation —
    * the oracle replay of [[pqAssign]]'s struct-min aggregation.
    */
  private val pqSqlCodes: String = {
    val cs = (0 until PqM).map { j =>
      s"""c$j AS (SELECT vec_id, rep_id AS code_$j FROM (
         |  SELECT e.vec_id, reps.rep_id, row_number() OVER (
         |    PARTITION BY e.vec_id
         |    ORDER BY ${sqlPqSubDist("e.v", "reps.rv", j)}, reps.rep_id) AS rn
         |  FROM e CROSS JOIN reps) WHERE rn = 1)""".stripMargin
    }
    val joins = (0 until PqM)
      .map(j => s"JOIN c$j ON c$j.vec_id = e.vec_id").mkString(" ")
    cs.mkString(",\n") + ",\n" +
      s"codes AS (SELECT e.vec_id, " +
      (0 until PqM).map(j => s"c$j.code_$j").mkString(", ") +
      s" FROM e $joins)"
  }

  /** Codes joined back to their codeword vectors (rv_0..rv_7). */
  private val pqSqlWords: String =
    s"k AS (SELECT codes.*, " +
      (0 until PqM).map(j => s"r$j.rv AS rv_$j").mkString(", ") +
      " FROM codes " +
      (0 until PqM).map(j => s"JOIN reps r$j ON r$j.rep_id = codes.code_$j")
        .mkString(" ") + ")"

  /** Trained-codebook CTE chain — the oracle replay of
    * [[pqTrainedBook]]: long-form subvectors (scalar columns s1..s8),
    * the medoid-initialized book b0, then `PqIters` unrolled (E-step
    * argmin, decimal-mean M-step, empty-cluster keep) rounds ending at
    * b`PqIters`. The E-step distance is the same left-associated
    * per-term chain as the Spark fold; the M-step mean is
    * CAST(sum(DECIMAL(18,9)) AS DOUBLE)/count — addition-order-free in
    * both engines, so the books are bit-identical.
    */
  /** Lloyd-round CTEs r=1..PqIters with name suffix `sfx`, training
    * from b0`sfx` over the points relation `subRel` (aliased `sub`
    * inside, so the distance text is shared) — the default chain uses
    * ("", "sub"), the K-sweep one chain per width, the refit gate one
    * warm-start chain per arm over corpus+batch.
    */
  private def pqSqlLloydRounds(sfx: String,
      subRel: String = "sub"): String = {
    val dist = (1 to PqSub)
      .map(i => s"(sub.s$i - b.c$i) * (sub.s$i - b.c$i)")
      .mkString(" + ")
    val sCols = (1 to PqSub).map(i => s"s$i").mkString(", ")
    val sb = new StringBuilder
    for (r <- 1 to PqIters) {
      val mCols = (1 to PqSub).map(i =>
        s"CAST(sum(CAST(s$i AS DECIMAL(18,9))) AS DOUBLE) / count(*) AS c$i")
        .mkString(", ")
      val coal = (1 to PqSub)
        .map(i => s"coalesce(m.c$i, b.c$i) AS c$i").mkString(", ")
      sb.append(s""",
         |a$r$sfx AS (SELECT vec_id, j, $sCols, cid FROM (
         |  SELECT sub.vec_id, sub.j, $sCols, b.cid, row_number() OVER (
         |    PARTITION BY sub.vec_id, sub.j ORDER BY $dist, b.cid) AS rn
         |  FROM $subRel sub JOIN b${r - 1}$sfx b ON b.j = sub.j) WHERE rn = 1),
         |m$r$sfx AS (SELECT j, cid, $mCols FROM a$r$sfx GROUP BY j, cid),
         |b$r$sfx AS (SELECT b.j, b.cid, $coal FROM b${r - 1}$sfx b
         |  LEFT JOIN m$r$sfx m ON m.j = b.j AND m.cid = b.cid)""".stripMargin)
    }
    sb.toString
  }

  private val pqSqlSubDef: String = {
    val subCols = (1 to PqSub)
      .map(i => s"v[j*$PqSub+$i] AS s$i").mkString(", ")
    s"""js AS (SELECT j FROM range(0, $PqM) t(j)),
       |sub AS (SELECT vec_id, j, $subCols FROM e CROSS JOIN js)""".stripMargin
  }

  private val pqSqlTrainChain: String = {
    val b0Cols = (1 to PqSub)
      .map(i => s"rv[j*$PqSub+$i] AS c$i").mkString(", ")
    s"""$pqSqlSubDef,
       |b0 AS (SELECT j, rep_id AS cid, $b0Cols
       |  FROM reps CROSS JOIN js)""".stripMargin +
      pqSqlLloydRounds("")
  }

  /** Final trained assignment + wide codes — the replay of
    * [[pqAssignTrained]]'s argmin and conditional-aggregation pivot.
    */
  private def pqSqlCodesTrainedFrom(sfx: String): String = {
    val dist = (1 to PqSub)
      .map(i => s"(sub.s$i - b.c$i) * (sub.s$i - b.c$i)")
      .mkString(" + ")
    val pivot = (0 until PqM)
      .map(j => s"max(CASE WHEN j = $j THEN cid END) AS code_$j")
      .mkString(", ")
    s"""ct$sfx AS (SELECT vec_id, j, cid FROM (
       |  SELECT sub.vec_id, sub.j, b.cid, row_number() OVER (
       |    PARTITION BY sub.vec_id, sub.j ORDER BY $dist, b.cid) AS rn
       |  FROM sub JOIN b$PqIters$sfx b ON b.j = sub.j) WHERE rn = 1),
       |codes_t$sfx AS (SELECT vec_id, $pivot FROM ct$sfx
       |  GROUP BY vec_id)""".stripMargin
  }

  private val pqSqlCodesTrained: String = pqSqlCodesTrainedFrom("")

  /** Trained-ADC distance: per-subspace reconstruction joins against
    * b`PqIters` (w0..w7) and the grouped per-subspace squared-L2 chain
    * — parenthesized per subspace so the float grouping matches the
    * Spark (reduce over j of reduce over i) fold exactly.
    */
  private val pqSqlAdcTrainedDist: String =
    (0 until PqM).map { j =>
      "(" + (1 to PqSub).map { i =>
        val idx = j * PqSub + i
        s"(q.qv[$idx]-w$j.c$i)*(q.qv[$idx]-w$j.c$i)"
      }.mkString(" + ") + ")"
    }.mkString(" + ")

  private def pqSqlAdcTrainedJoinsFrom(sfx: String): String =
    (0 until PqM)
      .map(j =>
        s"JOIN b$PqIters$sfx w$j ON w$j.j = $j AND w$j.cid = c.code_$j")
      .mkString(" ")

  private val pqSqlAdcTrainedJoins: String = pqSqlAdcTrainedJoinsFrom("")

  /** Full-width (EmbDim-term) squared-L2 chain between list `vec` and
    * the c1..c`EmbDim` columns of alias `b` — the same left-associated
    * term order as ops.KMeansFit's zip_with-diff dot fold, so the
    * trained-cell argmins agree bit for bit.
    */
  private def ivfSqlDist(vec: String, b: String): String =
    (1 to EmbDim).map(i => s"($vec[$i]-$b.c$i)*($vec[$i]-$b.c$i)")
      .mkString(" + ")

  /** Trained-coarse-quantizer CTE chain — the oracle replay of
    * ops.KMeansFit.fitFrom warm-started from the label medoids:
    * b0t (medoid centers, cell ids = rep vec_ids), `PqIters` unrolled
    * Lloyd rounds (argmin E-step ties by cid, DECIMAL(18,9)-mean
    * M-step, empty-cell keep) ending at b`PqIters`t, plus the final
    * assignment relation cells_t — [[pqSqlLloydRounds]] in full
    * embedding space with no subspace key.
    */
  private val ivfSqlTrainChain: String = {
    val b0Cols = (1 to EmbDim).map(i => s"rv[$i] AS c$i").mkString(", ")
    val sb = new StringBuilder(
      s"b0t AS (SELECT rep_id AS cid, $b0Cols FROM reps)")
    for (r <- 1 to PqIters) {
      val mCols = (1 to EmbDim).map(i =>
        s"CAST(sum(CAST(v[$i] AS DECIMAL(18,9))) AS DOUBLE) / count(*) AS c$i")
        .mkString(", ")
      val coal = (1 to EmbDim).map(i => s"coalesce(m.c$i, b.c$i) AS c$i")
        .mkString(", ")
      sb.append(s""",
         |a${r}t AS (SELECT vec_id, v, cid FROM (
         |  SELECT e.vec_id, e.v, b.cid, row_number() OVER (
         |    PARTITION BY e.vec_id ORDER BY ${ivfSqlDist("e.v", "b")}, b.cid) AS rn
         |  FROM e CROSS JOIN b${r - 1}t b) WHERE rn = 1),
         |m${r}t AS (SELECT cid, $mCols FROM a${r}t GROUP BY cid),
         |b${r}t AS (SELECT b.cid, $coal FROM b${r - 1}t b
         |  LEFT JOIN m${r}t m ON m.cid = b.cid)""".stripMargin)
    }
    sb.append(s""",
       |cells_t AS (SELECT vec_id, cid AS cell FROM (
       |  SELECT e.vec_id, b.cid, row_number() OVER (
       |    PARTITION BY e.vec_id ORDER BY ${ivfSqlDist("e.v", "b")}, b.cid) AS rn
       |  FROM e CROSS JOIN b${PqIters}t b) WHERE rn = 1)""".stripMargin)
    sb.toString
  }

  /** 1-row MSE CTE `name`: mean over all (vec_id, j) of the squared
    * distance from `subRel`'s subvectors to their nearest codeword in
    * `bookRel` — the oracle replay of [[pqMseTotal]], same rounding
    * discipline (d2 pre-rounded, DECIMAL(18,6) sum, final round(·,6)).
    */
  private def pqSqlMseCte(name: String, subRel: String,
      bookRel: String): String = {
    val dist = (1 to PqSub)
      .map(i => s"(sub.s$i - b.c$i) * (sub.s$i - b.c$i)")
      .mkString(" + ")
    s"""$name AS (SELECT round(CAST(sum(CAST(round(d2, 6)
       |    AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS m
       |  FROM (SELECT vec_id, sub.j AS j, min($dist) AS d2
       |    FROM $subRel sub JOIN $bookRel b ON b.j = sub.j
       |    GROUP BY vec_id, sub.j) dd)""".stripMargin
  }

  /** Shared CTE body of the BPE oracles (everything after WITH): word
    * -type freqs (w0), char-split symbol streams (s0), and `rounds`
    * greedy (pick, apply) stages unrolled — the merge application
    * mirrors the Spark windows exactly (islands of consecutive matches,
    * even offsets merge, right neighbor drops). q_bpe_merges reads the
    * p$r picks; q_bpe_encode reads the final s$rounds symbol relation.
    */
  private def bpeSqlStages(rounds: Int): String = {
    val stages = (1 to rounds).map { r =>
      s"""t$r AS (SELECT w, freq, pos, sym,
         |    lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
         |  FROM s${r - 1}),
         |p$r AS (SELECT sym AS a, nxt AS b, sum(freq) AS wt FROM t$r
         |  WHERE nxt IS NOT NULL GROUP BY sym, nxt
         |  ORDER BY wt DESC, sym, nxt LIMIT 1),
         |u$r AS (SELECT t.*, coalesce(t.sym = p.a AND t.nxt = p.b,
         |    false) AS m FROM t$r t, p$r p),
         |v$r AS (SELECT *, pos - sum(CASE WHEN m THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY w ORDER BY pos
         |          ROWS UNBOUNDED PRECEDING) AS isl FROM u$r),
         |x$r AS (SELECT *, m AND (pos - min(pos)
         |    OVER (PARTITION BY w, m, isl)) % 2 = 0 AS merged
         |  FROM v$r),
         |y$r AS (SELECT *, NOT coalesce(lag(merged)
         |    OVER (PARTITION BY w ORDER BY pos), false) AS kept
         |  FROM x$r),
         |s$r AS (SELECT w, freq,
         |    row_number() OVER (PARTITION BY w ORDER BY pos) - 1 AS pos,
         |    CASE WHEN merged THEN sym || nxt ELSE sym END AS sym
         |  FROM y$r WHERE kept)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(${sqlTokens("text")}) AS w FROM documents)
       |  WHERE regexp_matches(w, '^[a-z]{2,12}$$') GROUP BY w),
       |s0 AS (SELECT w, freq, unnest(range(len(cs))) AS pos,
       |    unnest(cs) AS sym
       |  FROM (SELECT w, freq, string_split(w, '') AS cs FROM w0)),
       |$stages""".stripMargin
  }

  /** CTE body of the BATCHED BPE oracle: per pass, the top-BpeTopM
    * candidate relation (c$p, ranked wt desc / a / b), the conservative
    * mutually-disjoint survivor prefix (e$p — a candidate survives iff
    * no higher-ranked candidate shares a symbol; sel$p caps at
    * BpeBatchN), and the one-shot apply of ALL selected pairs via the
    * same gaps-and-islands windows (membership by LEFT JOIN against
    * sel$p instead of the single-pair equality). Mirrors
    * [[bpeTrainBatched]] stage for stage.
    */
  private def bpeSqlStagesBatched(passes: Int, batchN: Int,
      topM: Int): String = {
    val stages = (1 to passes).map { p =>
      s"""t$p AS (SELECT w, freq, pos, sym,
         |    lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
         |  FROM s${p - 1}),
         |c$p AS (SELECT a, b, wt,
         |    row_number() OVER (ORDER BY wt DESC, a, b) AS rk
         |  FROM (SELECT sym AS a, nxt AS b, sum(freq) AS wt FROM t$p
         |    WHERE nxt IS NOT NULL GROUP BY sym, nxt
         |    ORDER BY wt DESC, sym, nxt LIMIT $topM)),
         |e$p AS (SELECT a, b, wt, rk,
         |    row_number() OVER (ORDER BY rk) AS slot
         |  FROM c$p c WHERE NOT EXISTS (SELECT 1 FROM c$p h
         |    WHERE h.rk < c.rk AND (h.a = c.a OR h.a = c.b
         |      OR h.b = c.a OR h.b = c.b))),
         |sel$p AS (SELECT a, b, wt, slot FROM e$p WHERE slot <= $batchN),
         |u$p AS (SELECT t.w, t.freq, t.pos, t.sym, t.nxt,
         |    (sel.a IS NOT NULL) AS m
         |  FROM t$p t LEFT JOIN sel$p sel
         |    ON t.sym = sel.a AND t.nxt = sel.b),
         |v$p AS (SELECT *, pos - sum(CASE WHEN m THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY w ORDER BY pos
         |          ROWS UNBOUNDED PRECEDING) AS isl FROM u$p),
         |x$p AS (SELECT *, m AND (pos - min(pos)
         |    OVER (PARTITION BY w, m, isl)) % 2 = 0 AS merged
         |  FROM v$p),
         |y$p AS (SELECT *, NOT coalesce(lag(merged)
         |    OVER (PARTITION BY w ORDER BY pos), false) AS kept
         |  FROM x$p),
         |s$p AS (SELECT w, freq,
         |    row_number() OVER (PARTITION BY w ORDER BY pos) - 1 AS pos,
         |    CASE WHEN merged THEN sym || nxt ELSE sym END AS sym
         |  FROM y$p WHERE kept)""".stripMargin
    }.mkString(",\n")
    val sels = (1 to passes).map(p =>
      s"SELECT $p AS pass, slot, a, b, wt FROM sel$p")
      .mkString(" UNION ALL ")
    s"""w0 AS (SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(${sqlTokens("text")}) AS w FROM documents)
       |  WHERE regexp_matches(w, '^[a-z]{2,12}$$') GROUP BY w),
       |s0 AS (SELECT w, freq, unnest(range(len(cs))) AS pos,
       |    unnest(cs) AS sym
       |  FROM (SELECT w, freq, string_split(w, '') AS cs FROM w0)),
       |$stages,
       |allsel AS ($sels)""".stripMargin
  }

  /** DuckDB expression: distinct k-token shingles of token-list column t
    * (whole-doc shingle for short docs), matching TextOps.distinctShingles.
    */
  private def sqlShinglesK(k: Int) =
    s"""CASE WHEN len(t) >= $k
       | THEN list_distinct([array_to_string(t[i:i+${k - 1}], ' ')
       |                     for i in range(1, len(t) - ${k - 2})])
       | ELSE [array_to_string(t, ' ')] END""".stripMargin

  private val sqlShingles = sqlShinglesK(K)

  /** Non-distinct variant of [[sqlShinglesK]] (every position kept),
    * matching TextOps.shingles.
    */
  private def sqlShinglesAllK(k: Int) =
    s"""CASE WHEN len(t) >= $k
       | THEN [array_to_string(t[i:i+${k - 1}], ' ')
       |       for i in range(1, len(t) - ${k - 2})]
       | ELSE [array_to_string(t, ' ')] END""".stripMargin

  /** DuckDB expression: 31-bit item hash of element x (TextOps.hash31). */
  private val sqlHash31 =
    "(('0x' || substring(md5(x), 1, 15))::BIGINT & 2147483647)"

  /** DuckDB expression: minhash signature over pre-hashed item list vs,
    * same universal-hash constants as TextOps.minhashSignature.
    */
  private val sqlSig =
    (0 until NumHashes).map(i =>
      s"list_min(list_transform(vs, v -> (${TextOps.hashA(i)} * v + ${TextOps.hashB(i)}) % 2147483647))")
      .mkString("[", ", ", "]")

  /** DuckDB expression: LSH band keys of signature-list column sig. */
  private val sqlBands = (0 until Bands).map(b =>
    s"md5('$b' || '|' || array_to_string(sig[${b * RowsPerBand + 1}:${(b + 1) * RowsPerBand}], ','))")

  /** DuckDB expression: language-ID over token-list column t, matching
    * TextOps.langId (argmax marker hits, list-order priority on ties).
    */
  private val sqlLangId = {
    def score(markers: Seq[String]) =
      s"len(list_filter(list_distinct(t), x -> x IN (${markers.map("'" + _ + "'").mkString(", ")})))"
    val scores = TextOps.langMarkers.map { case (l, m) => l -> score(m) }
    val best = scores.map(_._2).reduce((a, b) => s"greatest($a, $b)")
    val whens = scores.map { case (l, s) =>
      s"WHEN $s > 0 AND $s = $best THEN '$l'" }.mkString(" ")
    s"CASE $whens ELSE 'und' END"
  }

  private val enStops =
    TextOps.langMarkers.toMap.apply("en").map("'" + _ + "'").mkString(", ")

  /** DuckDB expression: 16-bit simhash over token-list column t. */
  private val sqlSimhash =
    s"""array_to_string([
       |  CASE WHEN list_sum(list_transform(t, tok ->
       |    CASE WHEN strpos('0123456789abcdef', substring(md5(tok), i + 1, 1)) >= 9
       |         THEN 1 ELSE -1 END)) > 0
       |  THEN '1' ELSE '0' END
       |  for i in range(0, 16)], '')""".stripMargin

  /** DuckDB expression: 64-bit simhash over token-list column t — bit i
    * is the sign of the vote sum over tokens of md5-digest bit i, read
    * nibble-wise from the hex digest ((nibble >> (3 - i%4)) & 1), the
    * exact rule [[graft.functions.SimHash64.compute]] applies byte-wise.
    */
  private val sqlSimhash64 =
    s"""array_to_string([
       |  CASE WHEN list_sum(list_transform(t, tok ->
       |    CASE WHEN (((strpos('0123456789abcdef',
       |            substring(md5(tok), i // 4 + 1, 1)) - 1)
       |          >> (3 - i % 4)) & 1) = 1
       |         THEN 1 ELSE -1 END)) > 0
       |  THEN '1' ELSE '0' END
       |  for i in range(0, 64)], '')""".stripMargin

  /** Shared CTE chain for the LSH candidate-pair pipeline (docs with
    * synthetic near-dups -> signatures -> bands -> candidate pairs ->
    * verified `sim(id_a, id_b, jaccard >= 0.5)`), used by both the pair
    * query and the recursive clustering walk.
    */
  /** docs-with-synthetic-near-dups CTE, the oracle twin of
    * [[docsWithNearDups]] (shared by the minhash and hamming pipelines).
    */
  private lazy val sqlDocsCte =
    s"""docs AS (
       |  SELECT doc_id, doc_id AS base_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000 AS doc_id, doc_id AS base_id,
       |    array_to_string(
       |      (${sqlTokens("text")})[1:len(${sqlTokens("text")}) - 2], ' ') AS text
       |  FROM documents WHERE doc_id < 20)""".stripMargin

  private lazy val sqlPairCtes =
    s"""$sqlDocsCte,
       |tok AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM docs),
       |sh AS (SELECT doc_id, $sqlShingles AS sh FROM tok),
       |hv AS (SELECT doc_id, list_transform(sh, x -> $sqlHash31) AS vs FROM sh),
       |sg AS (SELECT doc_id, $sqlSig AS sig FROM hv),
       |bk AS (SELECT doc_id, unnest([${sqlBands.mkString(", ")}]) AS band_key FROM sg),
       |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bk a JOIN bk b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |sim AS (SELECT * FROM (
       |  SELECT id_a, id_b,
       |    round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
       |          CAST(len(list_distinct(list_concat(x.sh, y.sh))) AS DOUBLE), 6)
       |      AS jaccard
       |  FROM pairs JOIN sh x ON x.doc_id = id_a JOIN sh y ON y.doc_id = id_b)
       |WHERE jaccard >= 0.5)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,

    "q_dedup_fingerprint" ->
      s"""SELECT min(doc_id) AS keep_id, fp, count(*) AS n_docs
         |FROM (SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct(${sqlTokens("text")})), ' ')) AS fp
         |  FROM documents)
         |GROUP BY fp ORDER BY keep_id""".stripMargin,

    "q_dedup_minhash" ->
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents),
         |sh AS (SELECT doc_id, $sqlShingles AS sh FROM tok),
         |hv AS (SELECT doc_id, list_transform(sh, x -> $sqlHash31) AS vs FROM sh),
         |sg AS (SELECT doc_id, $sqlSig AS sig FROM hv)
         |SELECT doc_id, md5(array_to_string(sig, ',')) AS sig_digest,
         |  array_to_string([${sqlBands.mkString(", ")}], ',') AS bands
         |FROM sg ORDER BY doc_id""".stripMargin,

    "q_dedup_lsh_buckets" ->
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents),
         |sh AS (SELECT doc_id, $sqlShingles AS sh FROM tok),
         |hv AS (SELECT doc_id, list_transform(sh, x -> $sqlHash31) AS vs FROM sh),
         |sg AS (SELECT doc_id, $sqlSig AS sig FROM hv),
         |bk AS (SELECT unnest([${sqlBands.mkString(", ")}]) AS band_key FROM sg),
         |bs AS (SELECT band_key, count(*) AS bucket_size FROM bk GROUP BY band_key)
         |SELECT bucket_size, count(*) AS n_buckets FROM bs
         |GROUP BY bucket_size ORDER BY bucket_size""".stripMargin,

    "q_dedup_pairs" ->
      s"""WITH $sqlPairCtes
         |SELECT id_a, id_b, jaccard FROM sim ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $sqlPairCtes,
         |edges AS (SELECT id_a AS a, id_b AS b FROM sim
         |  UNION SELECT id_b, id_a FROM sim),
         |walk(id, root) AS (
         |  SELECT a AS id, a AS root FROM edges
         |  UNION
         |  SELECT e.b AS id, w.root FROM walk w JOIN edges e ON e.a = w.id)
         |SELECT id AS doc_id, min(root) AS cluster
         |FROM walk GROUP BY id ORDER BY doc_id""".stripMargin,

    // incremental maintenance must equal the from-scratch walk over
    // the SAME full pair set — identical oracle to q_dedup_clusters
    "q_dedup_clusters_incremental" ->
      s"""WITH RECURSIVE $sqlPairCtes,
         |edges AS (SELECT id_a AS a, id_b AS b FROM sim
         |  UNION SELECT id_b, id_a FROM sim),
         |walk(id, root) AS (
         |  SELECT a AS id, a AS root FROM edges
         |  UNION
         |  SELECT e.b AS id, w.root FROM walk w JOIN edges e ON e.a = w.id)
         |SELECT id AS doc_id, min(root) AS cluster
         |FROM walk GROUP BY id ORDER BY doc_id""".stripMargin,

    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE $sqlPairCtes,
         |edges AS (SELECT id_a AS a, id_b AS b FROM sim
         |  UNION SELECT id_b, id_a FROM sim),
         |walk(id, root) AS (
         |  SELECT a AS id, a AS root FROM edges
         |  UNION
         |  SELECT e.b AS id, w.root FROM walk w JOIN edges e ON e.a = w.id),
         |cl AS (SELECT id AS doc_id, min(root) AS cluster
         |  FROM walk GROUP BY id),
         |tk AS (SELECT doc_id,
         |    CAST(len(${sqlTokens("text")}) AS INT) AS n_tokens FROM docs),
         |sc AS (SELECT cl.cluster, cl.doc_id, tk.n_tokens
         |  FROM cl JOIN tk USING (doc_id)),
         |best AS (SELECT cluster, count(*) AS n_members,
         |    max(n_tokens) AS best_tokens FROM sc GROUP BY cluster)
         |SELECT b.cluster, min(s.doc_id) AS keep_doc_id, b.n_members,
         |  b.best_tokens
         |FROM best b JOIN sc s
         |  ON s.cluster = b.cluster AND s.n_tokens = b.best_tokens
         |GROUP BY b.cluster, b.n_members, b.best_tokens
         |ORDER BY b.cluster""".stripMargin,

    "q_pagerank_iter" -> {
      val steps = (1 to PrIters).map { k =>
        s"""r$k AS (SELECT s.dst AS id,
           |    150000000000 + (85 * sum(r.r // s.deg)) // 100 AS r
           |  FROM symdeg s JOIN r${k - 1} r ON r.id = s.src
           |  GROUP BY s.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH $sqlPairCtes,
         |sym AS (SELECT id_a AS src, id_b AS dst FROM sim
         |  UNION SELECT id_b, id_a FROM sim),
         |deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src),
         |symdeg AS (SELECT s.src, s.dst, d.deg
         |  FROM sym s JOIN deg d ON d.src = s.src),
         |r0 AS (SELECT src AS id, CAST(1000000000000 AS BIGINT) AS r
         |  FROM deg),
         |$steps
         |SELECT id AS doc_id, round(CAST(r AS DOUBLE) / 1e12, 6) AS score
         |FROM r$PrIters ORDER BY doc_id""".stripMargin
    },

    "q_pagerank_step" ->
      s"""WITH $sqlPairCtes,
         |sym AS (SELECT id_a AS src, id_b AS dst FROM sim
         |  UNION SELECT id_b, id_a FROM sim),
         |deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src),
         |contrib AS (SELECT s.dst AS doc_id, 1000000000000 // d.deg AS c
         |  FROM sym s JOIN deg d ON s.src = d.src)
         |SELECT doc_id,
         |  round(CAST(150000000000 + (85 * sum(c)) // 100 AS DOUBLE)
         |    / 1e12, 6) AS score
         |FROM contrib GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_dedup_simhash" ->
      s"""SELECT doc_id, $sqlSimhash AS simhash
         |FROM (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents)
         |ORDER BY doc_id""".stripMargin,

    "q_dedup_hamming" ->
      s"""WITH $sqlDocsCte,
         |sg AS (SELECT doc_id, $sqlSimhash AS sig
         |  FROM (SELECT doc_id, ${sqlTokens("text")} AS t FROM docs)),
         |bands AS (SELECT doc_id, sig, b,
         |    substring(sig, CAST(b * $SimBandBits + 1 AS INT), $SimBandBits) AS bv
         |  FROM sg, range(0, $SimBands) AS r(b)),
         |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.sig AS sig_a, b.sig AS sig_b
         |  FROM bands a JOIN bands b
         |    ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
         |  WHERE a.b = CASE WHEN substring(a.sig, 1, $SimBandBits)
         |      = substring(b.sig, 1, $SimBandBits) THEN 0 ELSE 1 END)
         |SELECT id_a, id_b,
         |  CAST(bit_count(xor(CAST(sig_a AS BIT), CAST(sig_b AS BIT))) AS INT)
         |    AS hamming
         |FROM cand
         |WHERE bit_count(xor(CAST(sig_a AS BIT), CAST(sig_b AS BIT)))
         |  <= ${SimBands - 1}
         |ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_hamming64" ->
      s"""WITH $sqlDocsCte,
         |sg AS (SELECT doc_id, $sqlSimhash64 AS sig
         |  FROM (SELECT doc_id, ${sqlTokens("text")} AS t FROM docs)),
         |bands AS (SELECT doc_id, sig, b,
         |    substring(sig, CAST(b * $Sim64BandBits + 1 AS INT),
         |      $Sim64BandBits) AS bv
         |  FROM sg, range(0, $Sim64Bands) AS r(b)),
         |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.sig AS sig_a, b.sig AS sig_b
         |  FROM bands a JOIN bands b
         |    ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
         |  WHERE a.b = CASE
         |    WHEN substring(a.sig, 1, $Sim64BandBits)
         |       = substring(b.sig, 1, $Sim64BandBits) THEN 0
         |    WHEN substring(a.sig, ${Sim64BandBits + 1}, $Sim64BandBits)
         |       = substring(b.sig, ${Sim64BandBits + 1}, $Sim64BandBits) THEN 1
         |    WHEN substring(a.sig, ${2 * Sim64BandBits + 1}, $Sim64BandBits)
         |       = substring(b.sig, ${2 * Sim64BandBits + 1}, $Sim64BandBits) THEN 2
         |    ELSE 3 END)
         |SELECT id_a, id_b,
         |  CAST(bit_count(xor(CAST(sig_a AS BIT), CAST(sig_b AS BIT))) AS INT)
         |    AS hamming
         |FROM cand
         |WHERE bit_count(xor(CAST(sig_a AS BIT), CAST(sig_b AS BIT)))
         |  <= ${Sim64Bands - 1}
         |ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_jaccard" ->
      s"""WITH sh AS (
         |  SELECT doc_id, $sqlShingles AS sh
         |  FROM (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 6)
         |    AS jaccard
         |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
         |ORDER BY id_a""".stripMargin,

    "q_dedup_cosine" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_dot_product(a.v, b.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos,
        |  (list_dot_product(a.v, b.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) > 0.8) AS near_dup
        |FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
        |ORDER BY id_a""".stripMargin,

    "q_dedup_semantic" ->
      s"""WITH $semanticSqlBase,
         |dropped AS ($semanticSqlExactDropped)
         |SELECT s.vec_id, s.cell, (d.vec_id IS NOT NULL) AS is_dup
         |FROM assigned s LEFT JOIN dropped d ON s.vec_id = d.vec_id
         |ORDER BY s.vec_id""".stripMargin,

    // adaptive band-key width: bits = ceil(log2(ceil(n/512))) via the
    // same integer compare-chain as the engine (no libm log2)
    "q_dedup_semantic_scaled" ->
      s"""WITH $semanticSqlBase,
         |$semanticSqlBanded,
         |dropped AS ($semanticSqlScaledDropped)
         |SELECT s.vec_id, s.cell, (d.vec_id IS NOT NULL) AS is_dup
         |FROM assigned s LEFT JOIN dropped d ON s.vec_id = d.vec_id
         |ORDER BY s.vec_id""".stripMargin,

    // the daily batch probes the standing cell+band index: batch CTEs
    // mirror the engine's ε-shift (applied in DOUBLE space), cell
    // argmax against the same reps, banding at the CORPUS bits width
    "q_dedup_semantic_incremental" ->
      s"""WITH $semanticSqlBase,
         |$semanticSqlBanded,
         |batch AS (SELECT vec_id + 1000000 AS vec_id,
         |    list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.001)
         |      AS v
         |  FROM embeddings WHERE vec_id < 20),
         |bq AS (SELECT vec_id, v,
         |    sqrt(list_dot_product(v, v)) AS nrm FROM batch),
         |bassigned AS (SELECT vec_id, v, nrm, rep_id AS cell FROM (
         |  SELECT bq.vec_id, bq.v, bq.nrm, reps.rep_id,
         |    row_number() OVER (PARTITION BY bq.vec_id
         |      ORDER BY list_dot_product(bq.v, reps.rv) / (bq.nrm * reps.rn_)
         |        DESC, reps.rep_id) AS cell_rn
         |  FROM bq CROSS JOIN reps) WHERE cell_rn = 1),
         |bbanded AS (SELECT vec_id, cell, v, nrm, bnd.band,
         |    coalesce(array_to_string(
         |      [CASE WHEN v[i] >= 0 THEN '1' ELSE '0' END
         |       for i in range(bnd.band*$SemStride+1, bnd.band*$SemStride+nb.bits+1)],
         |      ''), '') AS key
         |  FROM bassigned CROSS JOIN nb
         |  CROSS JOIN (VALUES ${(0 until SemBands).map(b => s"($b)").mkString(", ")}) bnd(band)),
         |hits AS (SELECT DISTINCT b.vec_id AS new_id, c.vec_id AS match_id
         |  FROM banded c JOIN bbanded b ON c.cell = b.cell
         |    AND c.band = b.band AND c.key = b.key
         |    AND list_dot_product(c.v, b.v) / (c.nrm * b.nrm) >= $SemThr),
         |g AS (SELECT new_id, count(*) AS n_matches,
         |    min(match_id) AS first_match FROM hits GROUP BY new_id)
         |SELECT bq.vec_id AS new_id,
         |  CAST(coalesce(g.n_matches, 0) AS BIGINT) AS n_matches,
         |  g.first_match, g.new_id IS NOT NULL AS is_dup
         |FROM bq LEFT JOIN g ON g.new_id = bq.vec_id
         |ORDER BY new_id""".stripMargin,

    // the persisted-index probe must equal the in-session incremental
    // answer, with the disk/maintenance booleans pinned
    "q_dedup_semantic_index_persist" ->
      s"""WITH $semanticSqlBase,
         |$semanticSqlBanded,
         |batch AS (SELECT vec_id + 1000000 AS vec_id,
         |    list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.001)
         |      AS v
         |  FROM embeddings WHERE vec_id < 20),
         |bq AS (SELECT vec_id, v,
         |    sqrt(list_dot_product(v, v)) AS nrm FROM batch),
         |bassigned AS (SELECT vec_id, v, nrm, rep_id AS cell FROM (
         |  SELECT bq.vec_id, bq.v, bq.nrm, reps.rep_id,
         |    row_number() OVER (PARTITION BY bq.vec_id
         |      ORDER BY list_dot_product(bq.v, reps.rv) / (bq.nrm * reps.rn_)
         |        DESC, reps.rep_id) AS cell_rn
         |  FROM bq CROSS JOIN reps) WHERE cell_rn = 1),
         |bbanded AS (SELECT vec_id, cell, v, nrm, bnd.band,
         |    coalesce(array_to_string(
         |      [CASE WHEN v[i] >= 0 THEN '1' ELSE '0' END
         |       for i in range(bnd.band*$SemStride+1, bnd.band*$SemStride+nb.bits+1)],
         |      ''), '') AS key
         |  FROM bassigned CROSS JOIN nb
         |  CROSS JOIN (VALUES ${(0 until SemBands).map(b => s"($b)").mkString(", ")}) bnd(band)),
         |hits AS (SELECT DISTINCT b.vec_id AS new_id, c.vec_id AS match_id
         |  FROM banded c JOIN bbanded b ON c.cell = b.cell
         |    AND c.band = b.band AND c.key = b.key
         |    AND list_dot_product(c.v, b.v) / (c.nrm * b.nrm) >= $SemThr),
         |g AS (SELECT new_id, count(*) AS n_matches,
         |    min(match_id) AS first_match FROM hits GROUP BY new_id)
         |SELECT bq.vec_id AS new_id,
         |  CAST(coalesce(g.n_matches, 0) AS BIGINT) AS n_matches,
         |  g.first_match, g.new_id IS NOT NULL AS is_dup,
         |  true AS probe_from_disk, true AS index_maintained
         |FROM bq LEFT JOIN g ON g.new_id = bq.vec_id
         |ORDER BY new_id""".stripMargin,

    // full replay of the re-band gate: both standing corpora, the
    // doubling decision, the before/after widths, both band relations,
    // and the batch probe against each
    "q_dedup_semantic_rebits" -> {
      val repShifts = semanticSqlRepShifts
      def widthCte(name: String, src: String) =
        semanticSqlWidthCte(name, src)
      def bandCte(name: String, src: String, nb: String) =
        semanticSqlBandAtWidth(name, src, nb)
      def hitsCte(name: String, idx: String, bb: String) =
        semanticSqlHitsCte(name, idx, bb)
      def armRow(arm: String, nStanding: String, nb0: String,
          nbA: String, hits: String) =
        s"""SELECT '$arm' AS arm,
           |${semanticSqlRebitsCols(nStanding, nb0, nbA, hits)}""".stripMargin
      s"""WITH $semanticSqlBase,
         |batch AS (SELECT vec_id + 1000000 AS vec_id,
         |    list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.001)
         |      AS v
         |  FROM embeddings WHERE vec_id < 20),
         |bq AS (SELECT vec_id, v,
         |    sqrt(list_dot_product(v, v)) AS nrm FROM batch),
         |bassigned AS (SELECT vec_id, v, nrm, rep_id AS cell FROM (
         |  SELECT bq.vec_id, bq.v, bq.nrm, reps.rep_id,
         |    row_number() OVER (PARTITION BY bq.vec_id
         |      ORDER BY list_dot_product(bq.v, reps.rv) / (bq.nrm * reps.rn_)
         |        DESC, reps.rep_id) AS cell_rn
         |  FROM bq CROSS JOIN reps) WHERE cell_rn = 1),
         |grown AS ($repShifts),
         |gq AS (SELECT vec_id, v,
         |    sqrt(list_dot_product(v, v)) AS nrm FROM grown),
         |gassigned AS (SELECT vec_id, v, nrm, rep_id AS cell FROM (
         |  SELECT gq.vec_id, gq.v, gq.nrm, reps.rep_id,
         |    row_number() OVER (PARTITION BY gq.vec_id
         |      ORDER BY list_dot_product(gq.v, reps.rv) / (gq.nrm * reps.rn_)
         |        DESC, reps.rep_id) AS cell_rn
         |  FROM gq CROSS JOIN reps) WHERE cell_rn = 1),
         |allg AS (SELECT vec_id, v, nrm, cell FROM assigned
         |  UNION ALL SELECT vec_id, v, nrm, cell FROM gassigned),
         |ns AS (SELECT count(*) AS n FROM assigned),
         |nbatch AS (SELECT count(*) AS n FROM bq),
         |nalls AS (SELECT count(*) AS n FROM allg),
         |${widthCte("nb0", "ns")},
         |${widthCte("nbg", "nalls")},
         |${bandCte("banded0", "assigned", "nb0")},
         |${bandCte("bb0", "bassigned", "nb0")},
         |${bandCte("bandedg", "allg", "nbg")},
         |${bandCte("bbg", "bassigned", "nbg")},
         |${hitsCte("hits0", "banded0", "bb0")},
         |${hitsCte("hitsg", "bandedg", "bbg")}
         |SELECT * FROM (
         |${armRow("growth", "nalls", "nb0", "nbg", "hitsg")}
         |UNION ALL
         |${armRow("stable", "ns", "nb0", "nb0", "hits0")})
         |ORDER BY arm""".stripMargin
    },

    // the streamed resize-on-doubling lifecycle must equal the batch
    // rebits growth arm's full recomputation (same grown index, same
    // raised width, same probe), booleans pinned
    "q_stream_semantic_rebits" ->
      s"""WITH $semanticSqlBase,
         |batch AS (SELECT vec_id + 1000000 AS vec_id,
         |    list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.001)
         |      AS v
         |  FROM embeddings WHERE vec_id < 20),
         |bq AS (SELECT vec_id, v,
         |    sqrt(list_dot_product(v, v)) AS nrm FROM batch),
         |bassigned AS (SELECT vec_id, v, nrm, rep_id AS cell FROM (
         |  SELECT bq.vec_id, bq.v, bq.nrm, reps.rep_id,
         |    row_number() OVER (PARTITION BY bq.vec_id
         |      ORDER BY list_dot_product(bq.v, reps.rv) / (bq.nrm * reps.rn_)
         |        DESC, reps.rep_id) AS cell_rn
         |  FROM bq CROSS JOIN reps) WHERE cell_rn = 1),
         |grown AS ($semanticSqlRepShifts),
         |gq AS (SELECT vec_id, v,
         |    sqrt(list_dot_product(v, v)) AS nrm FROM grown),
         |gassigned AS (SELECT vec_id, v, nrm, rep_id AS cell FROM (
         |  SELECT gq.vec_id, gq.v, gq.nrm, reps.rep_id,
         |    row_number() OVER (PARTITION BY gq.vec_id
         |      ORDER BY list_dot_product(gq.v, reps.rv) / (gq.nrm * reps.rn_)
         |        DESC, reps.rep_id) AS cell_rn
         |  FROM gq CROSS JOIN reps) WHERE cell_rn = 1),
         |allg AS (SELECT vec_id, v, nrm, cell FROM assigned
         |  UNION ALL SELECT vec_id, v, nrm, cell FROM gassigned),
         |ns AS (SELECT count(*) AS n FROM assigned),
         |nbatch AS (SELECT count(*) AS n FROM bq),
         |nalls AS (SELECT count(*) AS n FROM allg),
         |${semanticSqlWidthCte("nb0", "ns")},
         |${semanticSqlWidthCte("nbg", "nalls")},
         |${semanticSqlBandAtWidth("bandedg", "allg", "nbg")},
         |${semanticSqlBandAtWidth("bbg", "bassigned", "nbg")},
         |${semanticSqlHitsCte("hitsg", "bandedg", "bbg")}
         |SELECT
         |${semanticSqlRebitsCols("nalls", "nb0", "nbg", "hitsg")},
         |  true AS probe_from_disk,
         |  true AS rebanded_mid_stream""".stripMargin,

    // the streamed upkeep must leave the day-0 probe identical to the
    // in-session incremental answer, booleans pinned
    "q_stream_semantic_index_maintain" ->
      s"""WITH $semanticSqlBase,
         |$semanticSqlBanded,
         |batch AS (SELECT vec_id + 1000000 AS vec_id,
         |    list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.001)
         |      AS v
         |  FROM embeddings WHERE vec_id < 20),
         |bq AS (SELECT vec_id, v,
         |    sqrt(list_dot_product(v, v)) AS nrm FROM batch),
         |bassigned AS (SELECT vec_id, v, nrm, rep_id AS cell FROM (
         |  SELECT bq.vec_id, bq.v, bq.nrm, reps.rep_id,
         |    row_number() OVER (PARTITION BY bq.vec_id
         |      ORDER BY list_dot_product(bq.v, reps.rv) / (bq.nrm * reps.rn_)
         |        DESC, reps.rep_id) AS cell_rn
         |  FROM bq CROSS JOIN reps) WHERE cell_rn = 1),
         |bbanded AS (SELECT vec_id, cell, v, nrm, bnd.band,
         |    coalesce(array_to_string(
         |      [CASE WHEN v[i] >= 0 THEN '1' ELSE '0' END
         |       for i in range(bnd.band*$SemStride+1, bnd.band*$SemStride+nb.bits+1)],
         |      ''), '') AS key
         |  FROM bassigned CROSS JOIN nb
         |  CROSS JOIN (VALUES ${(0 until SemBands).map(b => s"($b)").mkString(", ")}) bnd(band)),
         |hits AS (SELECT DISTINCT b.vec_id AS new_id, c.vec_id AS match_id
         |  FROM banded c JOIN bbanded b ON c.cell = b.cell
         |    AND c.band = b.band AND c.key = b.key
         |    AND list_dot_product(c.v, b.v) / (c.nrm * b.nrm) >= $SemThr),
         |g AS (SELECT new_id, count(*) AS n_matches,
         |    min(match_id) AS first_match FROM hits GROUP BY new_id)
         |SELECT bq.vec_id AS new_id,
         |  CAST(coalesce(g.n_matches, 0) AS BIGINT) AS n_matches,
         |  g.first_match, g.new_id IS NOT NULL AS is_dup,
         |  true AS probe_from_disk, true AS index_maintained
         |FROM bq LEFT JOIN g ON g.new_id = bq.vec_id
         |ORDER BY new_id""".stripMargin,

    // the recall readout of the exact-vs-scaled pairing: both dedup
    // algorithms run on the same corpus and the agreement is reduced to
    // one row of counts plus an integer-division recall (scaled can
    // only ever be a subset — SemanticDedupSpec pins that — so this is
    // precisely the LSH candidate-recall trade, quantified per round)
    "q_dedup_semantic_recall" ->
      s"""WITH $semanticSqlBase,
         |dx AS ($semanticSqlExactDropped),
         |$semanticSqlBanded,
         |ds AS ($semanticSqlScaledDropped),
         |j AS (SELECT s.vec_id, (x.vec_id IS NOT NULL) AS de,
         |    (sc.vec_id IS NOT NULL) AS dsc
         |  FROM assigned s
         |  LEFT JOIN dx x ON s.vec_id = x.vec_id
         |  LEFT JOIN ds sc ON s.vec_id = sc.vec_id),
         |agg AS (SELECT
         |    sum(CASE WHEN de THEN 1 ELSE 0 END)::BIGINT AS n_exact,
         |    sum(CASE WHEN dsc THEN 1 ELSE 0 END)::BIGINT AS n_scaled,
         |    sum(CASE WHEN de AND dsc THEN 1 ELSE 0 END)::BIGINT AS n_both
         |  FROM j)
         |SELECT n_exact, n_scaled, n_both,
         |  CASE WHEN n_exact = 0 THEN CAST(1000000 AS BIGINT)
         |    ELSE n_both * 1000000 // n_exact END AS recall_ppm
         |FROM agg""".stripMargin,

    // the recall-vs-bands sweep: one banded CTE chain per band count
    // (suffixed names), each reduced to survivor/agreement counts
    // against the exact dropped set
    "q_dedup_semantic_sweep" -> {
      val cfgs = (1 to 4).map { b =>
        val stride = EmbDim / b
        (b, semanticSqlBandedCfg(b, stride, math.min(SemMaxBits, stride),
          s"_$b"),
          s"s_$b AS (${semanticSqlScaledDroppedCfg(s"_$b")})")
      }
      s"""WITH $semanticSqlBase,
         |dx AS ($semanticSqlExactDropped),
         |${cfgs.map(_._2).mkString(",\n")},
         |${cfgs.map(_._3).mkString(",\n")},
         |u AS (${cfgs.map { case (b, _, _) =>
             s"SELECT CAST($b AS BIGINT) AS n_bands, vec_id FROM s_$b" }
           .mkString("\n  UNION ALL ")}),
         |ag AS (SELECT n_bands, count(*) AS n_scaled,
         |    CAST(sum(CASE WHEN x.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_both
         |  FROM u LEFT JOIN dx x ON u.vec_id = x.vec_id
         |  GROUP BY n_bands),
         |ne AS (SELECT count(*) AS n_exact FROM dx)
         |SELECT n_bands, n_exact, n_scaled, n_both,
         |  CASE WHEN n_exact = 0 THEN CAST(1000000 AS BIGINT)
         |    ELSE n_both * 1000000 // n_exact END AS recall_ppm
         |FROM ag, ne ORDER BY n_bands""".stripMargin
    },

    "q_sim_topk" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
         |  FROM embeddings),
         |p AS (SELECT q.vec_id AS q_id, c.vec_id,
         |    list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS score
         |  FROM e q JOIN e c ON q.vec_id < 5 AND c.vec_id != q.vec_id),
         |r AS (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn FROM p)
         |SELECT q_id, rn, vec_id, round(score, 6) AS score FROM r
         |WHERE rn <= $TopK ORDER BY q_id, rn""".stripMargin,

    "q_knn_classify" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
         |  FROM embeddings),
         |p AS (SELECT q.vec_id AS q_id, c.vec_id,
         |    list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS score
         |  FROM e q JOIN e c ON q.vec_id < 5 AND c.vec_id != q.vec_id),
         |r AS (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn FROM p),
         |nn AS (SELECT q_id, vec_id FROM r WHERE rn <= $TopK),
         |v AS (SELECT nn.q_id, em.label, count(*) AS votes
         |  FROM nn JOIN embeddings em ON em.vec_id = nn.vec_id
         |  GROUP BY nn.q_id, em.label),
         |b AS (SELECT q_id, max(votes) AS votes FROM v GROUP BY q_id),
         |pr AS (SELECT v.q_id, v.votes, min(v.label) AS pred_label
         |  FROM v JOIN b ON v.q_id = b.q_id AND v.votes = b.votes
         |  GROUP BY v.q_id, v.votes)
         |SELECT pr.q_id, em.label AS q_label, pr.pred_label, pr.votes
         |FROM pr JOIN embeddings em ON em.vec_id = pr.q_id
         |ORDER BY pr.q_id""".stripMargin,

    "q_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
         |  FROM embeddings),
         |p AS (SELECT q.vec_id AS q_id, q.label AS q_label, c.vec_id,
         |    c.label AS neg_label,
         |    list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS score
         |  FROM e q JOIN e c ON q.vec_id < 5 AND c.label != q.label),
         |r AS (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn FROM p)
         |SELECT q_id, CAST(rn AS BIGINT) AS rn, vec_id, neg_label,
         |  round(score, 6) AS score
         |FROM r WHERE rn <= $AnnK ORDER BY q_id, rn""".stripMargin,

    "q_coreset_kcenter" -> {
      // the greedy loop unrolled as CTE stages (the q_pagerank_iter
      // move): m_r carries each point's running min distance to the
      // first r centers, p_r is the argmax pick that becomes center r+1
      val rounds = (2 to 6).map { r =>
        s"""m$r AS (SELECT m.vec_id, m.v, m.nrm,
           |    least(m.md, 1 - list_dot_product(m.v, c.v) / (m.nrm * c.nrm))
           |      AS md
           |  FROM m${r - 1} m, (SELECT e2.v, e2.nrm FROM e e2
           |    JOIN p$r ON e2.vec_id = p$r.cid) c)""".stripMargin
      }
      val pickRounds = (2 to 6).map { r =>
        s"""p$r AS (SELECT vec_id AS cid, md FROM m${r - 1}
           |  ORDER BY md DESC, vec_id LIMIT 1)""".stripMargin
      }
      // interleave: p2 picks from m1, m2 folds p2's center in, ...
      val chain = (2 to 6).flatMap(r =>
        Seq(pickRounds(r - 2)) ++ (if (r < 6) Seq(rounds(r - 2)) else Nil))
        .mkString(",\n")
      val out = (2 to 6).map(r =>
        s"SELECT CAST($r AS BIGINT) AS round, cid AS center_id, " +
          s"round(md, 6) AS radius FROM p$r").mkString("\nUNION ALL ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |      CAST(embedding AS DOUBLE[]))) AS nrm
         |  FROM embeddings),
         |p1 AS (SELECT min(vec_id) AS cid FROM e),
         |m1 AS (SELECT e.vec_id, e.v, e.nrm,
         |    1 - list_dot_product(e.v, c.v) / (e.nrm * c.nrm) AS md
         |  FROM e, (SELECT e2.v, e2.nrm FROM e e2
         |    JOIN p1 ON e2.vec_id = p1.cid) c),
         |$chain
         |SELECT CAST(1 AS BIGINT) AS round, cid AS center_id,
         |  round(CAST(0 AS DOUBLE), 6) AS radius FROM p1
         |UNION ALL $out
         |ORDER BY round""".stripMargin
    },

    "q_mmr_select" -> {
      // greedy MMR unrolled as CTE stages (the q_coreset_kcenter move):
      // m_r carries each candidate's running max similarity to the
      // first r picks, p_r is the argmax of lam*rel - mu*ms.
      val picks = (1 to MmrK).map { r =>
        s"""p$r AS (SELECT vec_id,
           |    CAST($MmrLam AS DOUBLE) * rel - CAST($MmrMu AS DOUBLE) * ms
           |      AS score, v, nrm
           |  FROM m${r - 1} ORDER BY score DESC, vec_id LIMIT 1)"""
          .stripMargin
      }
      val folds = (1 until MmrK).map { r =>
        s"""m$r AS (SELECT m.vec_id, m.v, m.nrm, m.rel,
           |    greatest(m.ms, list_dot_product(m.v, p.v) / (m.nrm * p.nrm))
           |      AS ms
           |  FROM m${r - 1} m, p$r p WHERE m.vec_id <> p.vec_id)"""
          .stripMargin
      }
      val chain = (1 to MmrK).flatMap(r =>
        Seq(picks(r - 1)) ++ (if (r < MmrK) Seq(folds(r - 1)) else Nil))
        .mkString(",\n")
      val out = (1 to MmrK).map(r =>
        s"SELECT CAST($r AS BIGINT) AS rank, vec_id, " +
          s"round(score, 6) AS score FROM p$r").mkString("\nUNION ALL ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |      CAST(embedding AS DOUBLE[]))) AS nrm
         |  FROM embeddings),
         |q AS (SELECT v, nrm FROM e WHERE vec_id = 0),
         |m0 AS (SELECT e.vec_id, e.v, e.nrm,
         |    list_dot_product(e.v, q.v) / (e.nrm * q.nrm) AS rel,
         |    CAST(0.0 AS DOUBLE) AS ms
         |  FROM e, q WHERE e.vec_id <> 0),
         |$chain
         |$out
         |ORDER BY rank""".stripMargin
    },

    "q_embed_project" -> {
      // the identical sign matrix regenerated symbolically: k is baked
      // into each list comprehension, j runs over the 64 input dims.
      val ks = (0 until ProjDims).map { k =>
        val signs = s"[CASE WHEN (((j*j*13 + ${k * k * 7} + j*${k * 3}" +
          s" + j*5 + ${k * 11}) % 17) % 2) = 0 THEN CAST(1.0 AS DOUBLE)" +
          s" ELSE CAST(-1.0 AS DOUBLE) END for j in range($EmbDim)]"
        s"""SELECT vec_id, CAST($k AS BIGINT) AS k,
           |  round(list_dot_product(v, $signs) / sqrt(8), 6) AS p
           |  FROM e""".stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings)
         |$ks
         |ORDER BY vec_id, k""".stripMargin
    },

    "q_prune_prototypes" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |      CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings),
        |x AS (SELECT label,
        |    unnest([{'d': i - 1,
        |             'x': CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,9))}
        |            for i in range(1, len(embedding) + 1)]) AS u
        |  FROM embeddings),
        |cm AS (SELECT label, u.d AS dim,
        |    CAST(SUM(u.x) AS DOUBLE) / COUNT(*) AS m
        |  FROM x GROUP BY 1, 2),
        |c AS (SELECT label, list(m ORDER BY dim) AS cv FROM cm GROUP BY 1),
        |cn AS (SELECT label, cv, sqrt(list_dot_product(cv, cv)) AS cn
        |  FROM c),
        |sc AS (SELECT e.vec_id, e.label,
        |    1 - list_dot_product(e.v, cn.cv) / (e.nrm * cn.cn) AS dist
        |  FROM e JOIN cn ON e.label = cn.label),
        |r AS (SELECT vec_id, label, dist,
        |    row_number() OVER (PARTITION BY label
        |      ORDER BY dist DESC, vec_id) AS rn,
        |    count(*) OVER (PARTITION BY label) AS cnt FROM sc)
        |SELECT vec_id, label, round(dist, 6) AS dist, rn,
        |  (rn * 2 <= cnt) AS kept
        |FROM r ORDER BY vec_id""".stripMargin,

    "q_fingerprint_winnow" ->
      s"""WITH d0 AS (SELECT doc_id,
         |    CASE WHEN len(t) >= $K
         |      THEN [{'p': i, 'g': array_to_string(t[i:i+${K - 1}], ' ')}
         |            for i in range(1, len(t) - ${K - 2})]
         |      ELSE [{'p': 1, 'g': array_to_string(t, ' ')}] END AS ps
         |  FROM (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents)),
         |g AS (SELECT doc_id, len(ps) AS n_grams, unnest(ps) AS u FROM d0),
         |h AS (SELECT doc_id, n_grams, u.p AS p, u.g AS x FROM g),
         |hh AS (SELECT doc_id, n_grams, p, $sqlHash31 AS h FROM h),
         |w AS (SELECT doc_id,
         |    unnest(range(greatest(1, p - ${WinnowW - 1}),
         |      least(p, greatest(1, n_grams - ${WinnowW - 1})) + 1)) AS q,
         |    (2147483647 - h) * 4294967296 + p AS pk
         |  FROM hh),
         |sel AS (SELECT doc_id, q, max(pk) AS pk FROM w GROUP BY 1, 2),
         |fp AS (SELECT DISTINCT doc_id, pk FROM sel),
         |fh AS (SELECT doc_id, 2147483647 - (pk // 4294967296) AS h_sel
         |  FROM fp),
         |agg AS (SELECT doc_id, count(*) AS n_fp, min(h_sel) AS h_min,
         |    max(h_sel) AS h_max, CAST(sum(h_sel) AS BIGINT) AS h_sum
         |  FROM fh GROUP BY 1),
         |gc AS (SELECT doc_id, len(ps)::BIGINT AS n_grams FROM d0)
         |SELECT gc.doc_id, gc.n_grams, agg.n_fp,
         |  (agg.n_fp * 1000000) // gc.n_grams AS density_ppm,
         |  agg.h_min, agg.h_max, agg.h_sum
         |FROM gc JOIN agg ON gc.doc_id = agg.doc_id
         |ORDER BY gc.doc_id""".stripMargin,

    "q_embed_truncate" ->
      """WITH e AS (SELECT vec_id,
        |    (CAST(embedding AS DOUBLE[]))[1:16] AS t FROM embeddings),
        |n AS (SELECT vec_id, sqrt(list_dot_product(t, t)) AS tn,
        |    t[1] AS t0 FROM e)
        |SELECT vec_id, round(tn, 6) AS trunc_norm,
        |  round(CASE WHEN tn = 0.0 THEN 0.0 ELSE t0 / tn END, 6) AS u0
        |FROM n ORDER BY vec_id""".stripMargin,

    "q_ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm,
         |    array_to_string([CASE WHEN embedding[i] >= 0 THEN '1' ELSE '0' END
         |                     for i in range(1, ${AnnBits + 1})], '') AS bkt
         |  FROM embeddings),
         |p AS (SELECT q.vec_id AS q_id, c.vec_id,
         |    list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS score
         |  FROM e q JOIN e c ON q.vec_id < 5 AND c.bkt = q.bkt AND c.vec_id != q.vec_id),
         |r AS (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn FROM p)
         |SELECT q_id, rn, vec_id, round(score, 6) AS score FROM r
         |WHERE rn <= $AnnK ORDER BY q_id, rn""".stripMargin,

    "q_ann_ivf" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
         |  FROM embeddings),
         |reps AS (SELECT r.rep_id, e.v AS rv, e.nrm AS rn_
         |  FROM (SELECT label, min(vec_id) AS rep_id FROM e GROUP BY label) r
         |  JOIN e ON e.vec_id = r.rep_id),
         |scored_cells AS (SELECT e.vec_id, e.v, e.nrm, reps.rep_id,
         |    list_dot_product(e.v, reps.rv) / (e.nrm * reps.rn_) AS rep_score
         |  FROM e CROSS JOIN reps),
         |assigned AS (SELECT vec_id, v, nrm, rep_id AS cell FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY rep_score DESC, rep_id) AS cell_rn FROM scored_cells)
         |  WHERE cell_rn = 1),
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cell AS q_cell
         |  FROM assigned WHERE vec_id < 5),
         |p AS (SELECT q.q_id, a.vec_id,
         |    list_dot_product(q.qv, a.v) / (q.qn * a.nrm) AS score
         |  FROM assigned a JOIN q ON a.cell = q.q_cell AND a.vec_id != q.q_id),
         |r AS (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn FROM p)
         |SELECT q_id, rn, vec_id, round(score, 6) AS score FROM r
         |WHERE rn <= $AnnK ORDER BY q_id, rn""".stripMargin,

    // trained-vs-medoid coarse quantizer readout: the 64-dim Lloyd
    // chain (cells_t) against the cosine-medoid cells, both scored on
    // the exact 50-query top-5 at nprobe=1
    "q_ann_ivf_trained" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
         |  FROM embeddings),
         |reps AS (SELECT r.rep_id, e.v AS rv, e.nrm AS rn_
         |  FROM (SELECT label, min(vec_id) AS rep_id FROM e GROUP BY label) r
         |  JOIN e ON e.vec_id = r.rep_id),
         |$ivfSqlTrainChain,
         |scored_cells AS (SELECT e.vec_id, e.v, e.nrm, reps.rep_id,
         |    list_dot_product(e.v, reps.rv) / (e.nrm * reps.rn_) AS rep_score
         |  FROM e CROSS JOIN reps),
         |assigned AS (SELECT vec_id, v, nrm, rep_id AS cell FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY rep_score DESC, rep_id) AS cell_rn FROM scored_cells)
         |  WHERE cell_rn = 1),
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e
         |  WHERE vec_id < $PqProbeN),
         |px AS (SELECT q.q_id, c.vec_id,
         |    list_dot_product(q.qv, c.v) / (q.qn * c.nrm) AS score
         |  FROM e c JOIN q ON c.vec_id != q.q_id),
         |rx AS (SELECT q_id, vec_id FROM (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn FROM px)
         |  WHERE rn <= $AnnK),
         |qm AS (SELECT q.q_id, q.qv, q.qn, a.cell AS q_cell FROM q
         |  JOIN assigned a ON a.vec_id = q.q_id),
         |pm AS (SELECT qm.q_id, a.vec_id,
         |    list_dot_product(qm.qv, a.v) / (qm.qn * a.nrm) AS score
         |  FROM assigned a JOIN qm ON a.cell = qm.q_cell
         |    AND a.vec_id != qm.q_id),
         |rm AS (SELECT q_id, vec_id FROM (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn FROM pm)
         |  WHERE rn <= $AnnK),
         |at_ AS (SELECT c.vec_id, e.v, e.nrm, c.cell FROM cells_t c
         |  JOIN e ON e.vec_id = c.vec_id),
         |qt AS (SELECT q.q_id, q.qv, q.qn, a.cell AS q_cell FROM q
         |  JOIN at_ a ON a.vec_id = q.q_id),
         |pt AS (SELECT qt.q_id, a.vec_id,
         |    list_dot_product(qt.qv, a.v) / (qt.qn * a.nrm) AS score
         |  FROM at_ a JOIN qt ON a.cell = qt.q_cell
         |    AND a.vec_id != qt.q_id),
         |rt AS (SELECT q_id, vec_id FROM (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn FROM pt)
         |  WHERE rn <= $AnnK),
         |hm AS (SELECT count(*) AS hits_medoid FROM rx
         |  JOIN rm ON rm.q_id = rx.q_id AND rm.vec_id = rx.vec_id),
         |ht AS (SELECT count(*) AS hits_trained FROM rx
         |  JOIN rt ON rt.q_id = rx.q_id AND rt.vec_id = rx.vec_id)
         |SELECT CAST($PqProbeN AS BIGINT) AS n_q, hm.hits_medoid,
         |  ht.hits_trained,
         |  round(CAST(hm.hits_medoid AS DOUBLE) / ${PqProbeN * AnnK}, 6)
         |    AS recall_medoid,
         |  round(CAST(ht.hits_trained AS DOUBLE) / ${PqProbeN * AnnK}, 6)
         |    AS recall_trained
         |FROM hm CROSS JOIN ht""".stripMargin,

    "q_pq_assign" ->
      s"""WITH $pqSqlBase,
         |$pqSqlCodes
         |SELECT vec_id, ${(0 until PqM).map(j => s"code_$j").mkString(", ")}
         |FROM codes ORDER BY vec_id""".stripMargin,

    "q_pq_adc" ->
      s"""WITH $pqSqlBase,
         |$pqSqlCodes,
         |$pqSqlWords,
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
         |p AS (SELECT q.q_id, k.vec_id,
         |    ${(0 until PqM).map(j => sqlPqSubDist("q.qv", s"k.rv_$j", j))
               .mkString(" + ")} AS adc
         |  FROM k JOIN q ON k.vec_id != q.q_id),
         |r AS (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY adc, vec_id) AS rn FROM p)
         |SELECT q_id, rn, vec_id, round(adc, 6) AS adc FROM r
         |WHERE rn <= $AnnK ORDER BY q_id, rn""".stripMargin,

    // the composed probe reuses the semantic-dedup base CTEs (same
    // medoid reps, same cosine cell argmax) plus the PQ code chain
    "q_pq_ivf_adc" ->
      s"""WITH $semanticSqlBase,
         |$pqSqlCodes,
         |$pqSqlWords,
         |q AS (SELECT vec_id AS q_id, v AS qv, cell AS q_cell
         |  FROM assigned WHERE vec_id < 5),
         |p AS (SELECT q.q_id, k.vec_id,
         |    ${(0 until PqM).map(j => sqlPqSubDist("q.qv", s"k.rv_$j", j))
               .mkString(" + ")} AS adc
         |  FROM k JOIN assigned a ON a.vec_id = k.vec_id
         |  JOIN q ON a.cell = q.q_cell AND k.vec_id != q.q_id),
         |r AS (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY adc, vec_id) AS rn FROM p)
         |SELECT q_id, rn, vec_id, round(adc, 6) AS adc FROM r
         |WHERE rn <= $AnnK ORDER BY q_id, rn""".stripMargin,

    "q_pq_recall" ->
      s"""WITH $pqSqlBase,
         |$pqSqlCodes,
         |$pqSqlWords,
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
         |p AS (SELECT q.q_id, k.vec_id,
         |    ${(0 until PqM).map(j => sqlPqSubDist("q.qv", s"k.rv_$j", j))
               .mkString(" + ")} AS adc
         |  FROM k JOIN q ON k.vec_id != q.q_id),
         |ra AS (SELECT q_id, vec_id FROM (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY adc, vec_id) AS rn FROM p)
         |  WHERE rn <= $AnnK),
         |px AS (SELECT q.q_id, e2.vec_id,
         |    ${(0 until PqM).map(j => sqlPqSubDist("q.qv", "e2.v", j))
               .mkString(" + ")} AS dist
         |  FROM e e2 JOIN q ON e2.vec_id != q.q_id),
         |rx AS (SELECT q_id, vec_id FROM (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY dist, vec_id) AS rn FROM px)
         |  WHERE rn <= $AnnK),
         |h AS (SELECT rx.q_id, count(*) AS n_hits FROM rx
         |  JOIN ra ON ra.q_id = rx.q_id AND ra.vec_id = rx.vec_id
         |  GROUP BY rx.q_id)
         |SELECT q.q_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / $AnnK, 6) AS recall
         |FROM q LEFT JOIN h ON h.q_id = q.q_id ORDER BY q.q_id""".stripMargin,

    "q_pq_distortion" -> {
      val dist = (1 to PqSub)
        .map(i => s"(sub.s$i - b.c$i) * (sub.s$i - b.c$i)")
        .mkString(" + ")
      s"""WITH $pqSqlBase,
         |$pqSqlTrainChain,
         |am AS (SELECT vec_id, sub.j AS j, min($dist) AS d2
         |  FROM sub JOIN b0 b ON b.j = sub.j GROUP BY vec_id, sub.j),
         |at AS (SELECT vec_id, sub.j AS j, min($dist) AS d2
         |  FROM sub JOIN b$PqIters b ON b.j = sub.j GROUP BY vec_id, sub.j),
         |gm AS (SELECT j, CAST(sum(CAST(round(d2, 6) AS DECIMAL(18,6)))
         |    AS DOUBLE) / count(*) AS m FROM am GROUP BY j),
         |gt AS (SELECT j, CAST(sum(CAST(round(d2, 6) AS DECIMAL(18,6)))
         |    AS DOUBLE) / count(*) AS m FROM at GROUP BY j)
         |SELECT CAST(gm.j AS BIGINT) AS j, round(gm.m, 6) AS mse_medoid,
         |  round(gt.m, 6) AS mse_trained,
         |  round(gt.m, 6) < round(gm.m, 6) AS improved
         |FROM gm JOIN gt ON gt.j = gm.j ORDER BY j""".stripMargin
    },

    "q_pq_recall_gain" ->
      s"""WITH $pqSqlBase,
         |$pqSqlCodes,
         |$pqSqlWords,
         |$pqSqlTrainChain,
         |$pqSqlCodesTrained,
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e
         |  WHERE vec_id < $PqProbeN),
         |px AS (SELECT q.q_id, e2.vec_id,
         |    ${(0 until PqM).map(j => sqlPqSubDist("q.qv", "e2.v", j))
               .mkString(" + ")} AS dist
         |  FROM e e2 JOIN q ON e2.vec_id != q.q_id),
         |rx AS (SELECT q_id, vec_id FROM (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY dist, vec_id) AS rn FROM px)
         |  WHERE rn <= $AnnK),
         |pm AS (SELECT q.q_id, k.vec_id,
         |    ${(0 until PqM).map(j => sqlPqSubDist("q.qv", s"k.rv_$j", j))
               .mkString(" + ")} AS adc
         |  FROM k JOIN q ON k.vec_id != q.q_id),
         |rm AS (SELECT q_id, vec_id FROM (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY adc, vec_id) AS rn FROM pm)
         |  WHERE rn <= $AnnK),
         |pt AS (SELECT q.q_id, c.vec_id, $pqSqlAdcTrainedDist AS adc
         |  FROM codes_t c $pqSqlAdcTrainedJoins
         |  JOIN q ON c.vec_id != q.q_id),
         |rt AS (SELECT q_id, vec_id FROM (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY adc, vec_id) AS rn FROM pt)
         |  WHERE rn <= $AnnK),
         |hm AS (SELECT count(*) AS hits_medoid FROM rx
         |  JOIN rm ON rm.q_id = rx.q_id AND rm.vec_id = rx.vec_id),
         |ht AS (SELECT count(*) AS hits_trained FROM rx
         |  JOIN rt ON rt.q_id = rx.q_id AND rt.vec_id = rx.vec_id)
         |SELECT CAST($PqProbeN AS BIGINT) AS n_q, hm.hits_medoid,
         |  ht.hits_trained,
         |  round(CAST(hm.hits_medoid AS DOUBLE) / ${PqProbeN * AnnK}, 6)
         |    AS recall_medoid,
         |  round(CAST(ht.hits_trained AS DOUBLE) / ${PqProbeN * AnnK}, 6)
         |    AS recall_trained
         |FROM hm CROSS JOIN ht""".stripMargin,

    "q_pq_train" ->
      s"""WITH $pqSqlBase,
         |$pqSqlTrainChain
         |SELECT CAST(j AS BIGINT) AS j, cid,
         |  ${(1 to PqSub).map(i => s"round(c$i, 6) AS c$i").mkString(", ")}
         |FROM b$PqIters ORDER BY j, cid""".stripMargin,

    "q_pq_adc_trained" ->
      s"""WITH $pqSqlBase,
         |$pqSqlTrainChain,
         |$pqSqlCodesTrained,
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
         |p AS (SELECT q.q_id, c.vec_id, $pqSqlAdcTrainedDist AS adc
         |  FROM codes_t c $pqSqlAdcTrainedJoins
         |  JOIN q ON c.vec_id != q.q_id),
         |r AS (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY adc, vec_id) AS rn FROM p)
         |SELECT q_id, rn, vec_id, round(adc, 6) AS adc FROM r
         |WHERE rn <= $AnnK ORDER BY q_id, rn""".stripMargin,

    // the persisted-index probe must equal the in-session trained-ADC
    // answer bit for bit, with the from-disk boolean pinned
    "q_pq_index_persist" ->
      s"""WITH $pqSqlBase,
         |$pqSqlTrainChain,
         |$pqSqlCodesTrained,
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
         |p AS (SELECT q.q_id, c.vec_id, $pqSqlAdcTrainedDist AS adc
         |  FROM codes_t c $pqSqlAdcTrainedJoins
         |  JOIN q ON c.vec_id != q.q_id),
         |r AS (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY adc, vec_id) AS rn FROM p)
         |SELECT q_id, rn, vec_id, round(adc, 6) AS adc,
         |  true AS probe_from_disk, true AS index_maintained FROM r
         |WHERE rn <= $AnnK ORDER BY q_id, rn""".stripMargin,

    // post-delete ADC probe: the code relation loses exactly the
    // tombstoned vectors; the row-accounting boolean is pinned TRUE
    "q_pq_index_delete" ->
      s"""WITH $pqSqlBase,
         |$pqSqlTrainChain,
         |$pqSqlCodesTrained,
         |codes_d AS (SELECT * FROM codes_t WHERE vec_id % 10 <> 7),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
         |p AS (SELECT q.q_id, c.vec_id, $pqSqlAdcTrainedDist AS adc
         |  FROM codes_d c $pqSqlAdcTrainedJoins
         |  JOIN q ON c.vec_id != q.q_id),
         |r AS (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY adc, vec_id) AS rn FROM p)
         |SELECT q_id, rn, vec_id, round(adc, 6) AS adc,
         |  true AS deleted_gone FROM r
         |WHERE rn <= $AnnK ORDER BY q_id, rn""".stripMargin,

    // streamed codes upkeep: the day-0 ADC probe equals the batch-built
    // persisted-index probe, booleans pinned
    "q_stream_pq_index_maintain" ->
      s"""WITH $pqSqlBase,
         |$pqSqlTrainChain,
         |$pqSqlCodesTrained,
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
         |p AS (SELECT q.q_id, c.vec_id, $pqSqlAdcTrainedDist AS adc
         |  FROM codes_t c $pqSqlAdcTrainedJoins
         |  JOIN q ON c.vec_id != q.q_id),
         |r AS (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY adc, vec_id) AS rn FROM p)
         |SELECT q_id, rn, vec_id, round(adc, 6) AS adc,
         |  true AS probe_from_disk, true AS index_maintained FROM r
         |WHERE rn <= $AnnK ORDER BY q_id, rn""".stripMargin,

    // one unrolled train chain per codebook width, all scored against
    // the shared exact top-5
    "q_pq_codebook_sweep" -> {
      val b0Cols = (1 to PqSub)
        .map(i => s"v[j*$PqSub+$i] AS c$i").mkString(", ")
      val perK = PqSweepKs.map { k =>
        val sfx = s"_$k"
        s"""b0$sfx AS (SELECT j, vec_id AS cid, $b0Cols
           |  FROM e CROSS JOIN js WHERE vec_id < $k)${pqSqlLloydRounds(sfx)},
           |${pqSqlCodesTrainedFrom(sfx)},
           |p$sfx AS (SELECT q.q_id, c.vec_id, $pqSqlAdcTrainedDist AS adc
           |  FROM codes_t$sfx c ${pqSqlAdcTrainedJoinsFrom(sfx)}
           |  JOIN q ON c.vec_id != q.q_id),
           |r$sfx AS (SELECT q_id, vec_id FROM (SELECT *, row_number() OVER (
           |    PARTITION BY q_id ORDER BY adc, vec_id) AS rn FROM p$sfx)
           |  WHERE rn <= $AnnK),
           |h$sfx AS (SELECT count(*) AS hits FROM rx
           |  JOIN r$sfx ON r$sfx.q_id = rx.q_id
           |    AND r$sfx.vec_id = rx.vec_id)""".stripMargin
      }
      val rows = PqSweepKs.map { k =>
        s"""SELECT CAST($k AS BIGINT) AS n_codewords,
           |  CAST(hits AS BIGINT) AS hits,
           |  round(CAST(hits AS DOUBLE) / ${5 * AnnK}, 6) AS recall
           |FROM h_$k""".stripMargin
      }
      s"""WITH $pqSqlBase,
         |$pqSqlSubDef,
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
         |px AS (SELECT q.q_id, e2.vec_id,
         |    ${(0 until PqM).map(j => sqlPqSubDist("q.qv", "e2.v", j))
               .mkString(" + ")} AS dist
         |  FROM e e2 JOIN q ON e2.vec_id != q.q_id),
         |rx AS (SELECT q_id, vec_id FROM (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY dist, vec_id) AS rn FROM px)
         |  WHERE rn <= $AnnK),
         |${perK.mkString(",\n")}
         |SELECT * FROM (
         |${rows.mkString("\nUNION ALL\n")})
         |ORDER BY n_codewords""".stripMargin
    },

    // full replay of the refit gate: both batches, the five frozen-book
    // MSEs, the decision, and one warm-start Lloyd chain PER ARM over
    // corpus+batch (computed unconditionally; the CASE keyed on the
    // same decision expression selects the arm's actual post-decision
    // MSE, so engine and oracle agree under ANY data distribution) —
    // the probe booleans are pinned TRUE, the probe equality itself is
    // engine-side (disk vs memory, bit-for-bit)
    "q_pq_refit_gate" -> {
      val sCopy = (1 to PqSub).map(i => s"s$i").mkString(", ")
      val sShift = (1 to PqSub)
        .map(i => s"s$i + $PqRefitDelta AS s$i").mkString(", ")
      val bCols = (1 to PqSub).map(i => s"c$i").mkString(", ")
      def armSel(tag: String, mb: String, mm: String, ma: String) =
        s"""SELECT '$tag' AS arm, nc.n AS n_corpus, nb.n AS n_batch,
           |  mt.m AS mse_train, $mb.m AS mse_batch,
           |  $mb.m > $PqRefitThr * mt.m AS refit,
           |  $mm.m AS mse_mixed,
           |  CASE WHEN $mb.m > $PqRefitThr * mt.m THEN $ma.m
           |    ELSE $mm.m END AS mse_after,
           |  CASE WHEN $mb.m > $PqRefitThr * mt.m THEN $ma.m
           |    ELSE $mm.m END <= $mm.m AS improved,
           |  CAST(nc.n + nb.n AS BIGINT) AS n_index,
           |  TRUE AS probe_from_disk, TRUE AS probe_match
           |FROM nc, nb, mt, $mb, $mm, $ma""".stripMargin
      s"""WITH $pqSqlBase,
         |$pqSqlTrainChain,
         |bts AS (SELECT -vec_id - 1 AS vec_id, j, $sCopy
         |  FROM sub WHERE vec_id % 10 < 3),
         |btd AS (SELECT -vec_id - 1 AS vec_id, j, $sShift
         |  FROM sub WHERE vec_id % 10 < 3),
         |sas AS (SELECT * FROM sub UNION ALL SELECT * FROM bts),
         |sad AS (SELECT * FROM sub UNION ALL SELECT * FROM btd),
         |b0_rs AS (SELECT j, cid, $bCols FROM b$PqIters)${
           pqSqlLloydRounds("_rs", "sas")},
         |b0_rd AS (SELECT j, cid, $bCols FROM b$PqIters)${
           pqSqlLloydRounds("_rd", "sad")},
         |${pqSqlMseCte("mt", "sub", s"b$PqIters")},
         |${pqSqlMseCte("mbs", "bts", s"b$PqIters")},
         |${pqSqlMseCte("mbd", "btd", s"b$PqIters")},
         |${pqSqlMseCte("mms", "sas", s"b$PqIters")},
         |${pqSqlMseCte("mmd", "sad", s"b$PqIters")},
         |${pqSqlMseCte("mas", "sas", s"b${PqIters}_rs")},
         |${pqSqlMseCte("mad", "sad", s"b${PqIters}_rd")},
         |nc AS (SELECT count(*) AS n FROM e),
         |nb AS (SELECT count(*) AS n FROM e WHERE vec_id % 10 < 3)
         |SELECT * FROM (
         |${armSel("stable", "mbs", "mms", "mas")}
         |UNION ALL
         |${armSel("drift", "mbd", "mmd", "mad")})
         |ORDER BY arm""".stripMargin
    },

    "q_pq_ivf_adc_trained" ->
      s"""WITH $semanticSqlBase,
         |$pqSqlTrainChain,
         |$pqSqlCodesTrained,
         |q AS (SELECT vec_id AS q_id, v AS qv, cell AS q_cell
         |  FROM assigned WHERE vec_id < 5),
         |p AS (SELECT q.q_id, c.vec_id, $pqSqlAdcTrainedDist AS adc
         |  FROM codes_t c $pqSqlAdcTrainedJoins
         |  JOIN assigned a ON a.vec_id = c.vec_id
         |  JOIN q ON a.cell = q.q_cell AND c.vec_id != q.q_id),
         |r AS (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY adc, vec_id) AS rn FROM p)
         |SELECT q_id, rn, vec_id, round(adc, 6) AS adc FROM r
         |WHERE rn <= $AnnK ORDER BY q_id, rn""".stripMargin,

    "q_pq_recall_trained" ->
      s"""WITH $pqSqlBase,
         |$pqSqlTrainChain,
         |$pqSqlCodesTrained,
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
         |p AS (SELECT q.q_id, c.vec_id, $pqSqlAdcTrainedDist AS adc
         |  FROM codes_t c $pqSqlAdcTrainedJoins
         |  JOIN q ON c.vec_id != q.q_id),
         |ra AS (SELECT q_id, vec_id FROM (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY adc, vec_id) AS rn FROM p)
         |  WHERE rn <= $AnnK),
         |px AS (SELECT q.q_id, e2.vec_id,
         |    ${(0 until PqM).map(j => sqlPqSubDist("q.qv", "e2.v", j))
               .mkString(" + ")} AS dist
         |  FROM e e2 JOIN q ON e2.vec_id != q.q_id),
         |rx AS (SELECT q_id, vec_id FROM (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY dist, vec_id) AS rn FROM px)
         |  WHERE rn <= $AnnK),
         |h AS (SELECT rx.q_id, count(*) AS n_hits FROM rx
         |  JOIN ra ON ra.q_id = rx.q_id AND ra.vec_id = rx.vec_id
         |  GROUP BY rx.q_id)
         |SELECT q.q_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / $AnnK, 6) AS recall
         |FROM q LEFT JOIN h ON h.q_id = q.q_id ORDER BY q.q_id""".stripMargin,

    "q_text_stats" ->
      s"""SELECT doc_id,
         |  $sqlLangId AS lang_pred,
         |  round(CASE WHEN length(text) = 0 THEN 0.0
         |    ELSE CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
         |      / CAST(length(text) AS DOUBLE) END, 6) AS alpha_ratio,
         |  round(CAST(len(list_filter(t, x -> x IN ($enStops))) AS DOUBLE)
         |    / CAST(len(t) AS DOUBLE), 6) AS stop_ratio,
         |  round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
         |    / CAST(len(t) AS DOUBLE), 6) AS mean_tok_len,
         |  CAST(len(t) AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_bpe
         |FROM (SELECT doc_id, text, ${sqlTokens("text")} AS t FROM documents)
         |ORDER BY doc_id""".stripMargin,

    "q_text_langdist" ->
      s"""SELECT lang, $sqlLangId AS lang_pred, count(*) AS n
         |FROM (SELECT lang, ${sqlTokens("text")} AS t FROM documents)
         |GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin,

    "q_text_filter" ->
      s"""SELECT doc_id, reject_reasons, reject_reasons = '' AS kept
         |FROM (
         |  SELECT doc_id, concat_ws(',',
         |    CASE WHEN len(t) < 10 THEN 'short' END,
         |    CASE WHEN (CASE WHEN length(text) = 0 THEN 0.0
         |      ELSE CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
         |        / CAST(length(text) AS DOUBLE) END) < 0.7 THEN 'low_alpha' END,
         |    CASE WHEN CAST(len(list_filter(t, x -> x IN ($enStops))) AS DOUBLE)
         |           / CAST(len(t) AS DOUBLE) <= 0.0 THEN 'no_stopwords' END,
         |    CASE WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE)
         |           / CAST(len(t) AS DOUBLE) > 12.0 THEN 'long_tokens' END)
         |    AS reject_reasons
         |  FROM (SELECT doc_id, text, ${sqlTokens("text")} AS t FROM documents))
         |ORDER BY doc_id""".stripMargin,

    "q_inverted_index" ->
      s"""SELECT term, count(*) AS n_docs,
         |  array_to_string(list_sort(list(doc_id))[1:20], ',') AS postings_head
         |FROM (SELECT doc_id,
         |    unnest(list_distinct(${sqlTokens("text")})) AS term
         |  FROM documents)
         |GROUP BY term ORDER BY term""".stripMargin,

    "q_text_tokens" ->
      s"""SELECT tok, count(*) AS n FROM (
         |  SELECT unnest(${sqlTokens("text")}) AS tok FROM documents)
         |GROUP BY tok ORDER BY tok""".stripMargin,

    "q_tokens_bpe" ->
      """SELECT doc_id,
        |  count(*) AS n_tokens,
        |  count(*) FILTER (WHERE regexp_matches(t, '^ ?[a-z]')) AS n_word,
        |  count(*) FILTER (WHERE regexp_matches(t, '^ ?[0-9]')) AS n_num,
        |  count(*) FILTER (WHERE regexp_matches(t, '^ ?[^a-z0-9 ]'))
        |    AS n_punct,
        |  count(*) FILTER (WHERE regexp_matches(t, '^ +$')) AS n_space
        |FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text),
        |  ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +')) AS t FROM documents)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_bpe_merges" -> {
      val out = (1 to 3).map(r =>
        s"SELECT CAST($r AS BIGINT) AS round, a AS lhs, b AS rhs, " +
          s"CAST(wt AS BIGINT) AS weight FROM p$r")
        .mkString("\nUNION ALL ")
      s"""WITH ${bpeSqlStages(3)}
         |$out
         |ORDER BY round""".stripMargin
    },

    "q_bpe_merges_batched" ->
      s"""WITH ${bpeSqlStagesBatched(BpePasses, BpeBatchN, BpeTopM)}
         |SELECT row_number() OVER (ORDER BY pass, slot) AS round,
         |  a AS lhs, b AS rhs, CAST(wt AS BIGINT) AS weight
         |FROM allsel ORDER BY round""".stripMargin,

    // encode = the post-round-3 symbol relation s3 read out per word
    // type; string_agg in pos order mirrors the engine's sorted
    // collect_list join
    "q_bpe_encode" ->
      s"""WITH ${bpeSqlStages(3)}
         |SELECT w, freq, count(*) AS n_syms,
         |  string_agg(sym, ' ' ORDER BY pos) AS encoded
         |FROM s3 GROUP BY w, freq
         |ORDER BY freq DESC, w LIMIT 50""".stripMargin,

    "q_mix_temperature" ->
      """SELECT lang, n_docs,
        |  CAST(w * 1000000 // tw AS BIGINT) AS share_ppm
        |FROM (
        |  SELECT lang, n_docs, w, sum(w) OVER () AS tw FROM (
        |    SELECT lang, count(*) AS n_docs,
        |      CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000000)
        |        AS BIGINT) AS w
        |    FROM documents GROUP BY lang))
        |ORDER BY lang""".stripMargin,

    "q_dsir_select" ->
      s"""WITH tok AS (SELECT doc_id, lang, ${sqlTokens("text")} AS t
         |  FROM documents),
         |g0 AS (SELECT doc_id, lang, unnest(${sqlShinglesAllK(2)}) AS x
         |  FROM tok),
         |pd AS (SELECT doc_id, lang, ($sqlHash31) % 1024 AS b,
         |    count(*) AS c_doc
         |  FROM g0 GROUP BY doc_id, lang, b),
         |raw AS (SELECT b, sum(c_doc) AS c_raw FROM pd GROUP BY b),
         |tgt AS (SELECT b, sum(c_doc) AS c_tgt FROM pd
         |  WHERE lang = 'en' GROUP BY b),
         |tots AS (SELECT sum(c_doc) AS s_raw,
         |    sum(CASE WHEN lang = 'en' THEN c_doc END) AS s_tgt FROM pd),
         |w AS (SELECT r.b,
         |    (coalesce(t.c_tgt, 0) + 1) *
         |      ((s_raw + 1024) * 1000000 // (s_tgt + 1024)) // (r.c_raw + 1)
         |      AS w_micro
         |  FROM raw r LEFT JOIN tgt t USING (b) CROSS JOIN tots),
         |sc AS (SELECT doc_id, sum(c_doc) AS n_grams,
         |    sum(c_doc * w_micro) AS s
         |  FROM pd JOIN w USING (b) GROUP BY doc_id)
         |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
         |  CAST(s // n_grams AS BIGINT) AS imp_micro
         |FROM sc
         |ORDER BY imp_micro DESC, doc_id LIMIT 100""".stripMargin,

    "q_sample" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
         |       & 2147483647) % 100 < 10
         |ORDER BY doc_id""".stripMargin,

    "q_text_editdist" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(substring(a.text, 1, 20), substring(b.text, 1, 20)) AS BIGINT) AS dist
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |ORDER BY id_a""".stripMargin,

    "q_ann_ivf_nprobe" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
         |  FROM embeddings),
         |reps AS (SELECT r.rep_id, e.v AS rv, e.nrm AS rn_
         |  FROM (SELECT label, min(vec_id) AS rep_id FROM e GROUP BY label) r
         |  JOIN e ON e.vec_id = r.rep_id),
         |scored_cells AS (SELECT e.vec_id, e.v, e.nrm, reps.rep_id,
         |    list_dot_product(e.v, reps.rv) / (e.nrm * reps.rn_) AS rep_score
         |  FROM e CROSS JOIN reps),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY rep_score DESC, rep_id) AS cell_rn FROM scored_cells),
         |assigned AS (SELECT vec_id, v, nrm, rep_id AS cell
         |  FROM ranked WHERE cell_rn = 1),
         |probes AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, rep_id AS probe_cell
         |  FROM ranked WHERE vec_id < 5 AND cell_rn <= $NProbe),
         |p AS (SELECT q.q_id, a.vec_id,
         |    list_dot_product(q.qv, a.v) / (q.qn * a.nrm) AS score
         |  FROM assigned a JOIN probes q
         |    ON a.cell = q.probe_cell AND a.vec_id != q.q_id),
         |r AS (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn FROM p)
         |SELECT q_id, rn, vec_id, round(score, 6) AS score FROM r
         |WHERE rn <= $AnnK ORDER BY q_id, rn""".stripMargin,

    "q_decontaminate" ->
      s"""WITH sh AS (SELECT doc_id, unnest(${sqlShinglesK(DecontK)}) AS x
         |  FROM (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents)),
         |h AS (SELECT doc_id, $sqlHash31 AS h FROM sh),
         |ev AS (SELECT DISTINCT h FROM h WHERE doc_id % $EvalMod = 0)
         |SELECT doc_id, count(*) AS n_hit_ngrams
         |FROM h JOIN ev USING (h)
         |WHERE doc_id % $EvalMod != 0
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_text_repetition" ->
      s"""WITH g AS (SELECT doc_id,
         |    CASE WHEN len(t) >= 2
         |      THEN [array_to_string(t[i:i+1], ' ') for i in range(1, len(t))]
         |      ELSE [array_to_string(t, ' ')] END AS gs
         |  FROM (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents))
         |SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_grams,
         |  CAST(len(list_distinct(gs)) AS BIGINT) AS n_distinct,
         |  round(1.0 - CAST(len(list_distinct(gs)) AS DOUBLE)
         |        / CAST(len(gs) AS DOUBLE), 6) AS dup_frac,
         |  round(1.0 - CAST(len(list_distinct(gs)) AS DOUBLE)
         |        / CAST(len(gs) AS DOUBLE), 6) > 0.2 AS repetitive
         |FROM g ORDER BY doc_id""".stripMargin,

    "q_drift_ks" ->
      """WITH ev AS (SELECT event_type, value FROM events
        |  WHERE event_type IN ('click', 'view')),
        |mm AS (SELECT min(value) AS lo, max(value) AS hi FROM ev),
        |cells AS (
        |  SELECT least(255, CAST(floor((value - lo) * 256.0 / (hi - lo))
        |      AS BIGINT)) AS cell,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c2
        |  FROM ev, mm GROUP BY 1),
        |cum AS (SELECT cell,
        |    sum(c1) OVER (ORDER BY cell
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
        |    sum(c2) OVER (ORDER BY cell
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2
        |  FROM cells),
        |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS t1,
        |    CAST(sum(c2) AS BIGINT) AS t2 FROM cells)
        |SELECT t1 AS n1, t2 AS n2,
        |  CAST(max(abs(cum1 * t2 - cum2 * t1)) AS BIGINT) AS d_num,
        |  round(CAST(max(abs(cum1 * t2 - cum2 * t1)) AS DOUBLE) /
        |    CAST(t1 * t2 AS DOUBLE), 9) AS ks
        |FROM cum, tot GROUP BY t1, t2""".stripMargin,

    "q_drift_chi2" ->
      """WITH s AS (SELECT CASE WHEN doc_id % 2 = 0 THEN 'base' ELSE 'new'
        |      END AS snap, n_chars // 100 AS bucket
        |  FROM documents),
        |c AS (SELECT snap, bucket, count(*) AS n FROM s GROUP BY 1, 2),
        |a AS (SELECT bucket, n AS n_base FROM c WHERE snap = 'base'),
        |b AS (SELECT bucket, n AS n_new FROM c WHERE snap = 'new'),
        |t AS (SELECT
        |    CAST(sum(CASE WHEN snap = 'base' THEN n END) AS BIGINT)
        |      AS tot_base,
        |    CAST(sum(CASE WHEN snap = 'new' THEN n END) AS BIGINT)
        |      AS tot_new
        |  FROM c),
        |j AS (SELECT coalesce(a.bucket, b.bucket) AS bucket,
        |    CAST(coalesce(a.n_base, 0) AS BIGINT) AS n_base,
        |    CAST(coalesce(b.n_new, 0) AS BIGINT) AS n_new
        |  FROM a FULL JOIN b ON a.bucket = b.bucket),
        |x AS (SELECT bucket, n_base, n_new,
        |    (n_new - CAST(tot_new AS DOUBLE) * n_base / tot_base)
        |      * (n_new - CAST(tot_new AS DOUBLE) * n_base / tot_base)
        |      / (CAST(tot_new AS DOUBLE) * n_base / tot_base) AS term
        |  FROM j, t)
        |SELECT bucket, n_base, n_new,
        |  CASE WHEN n_base > 0 THEN round(term, 6) END AS chi2,
        |  (n_base = 0 OR (CASE WHEN n_base > 0 THEN round(term, 6) END)
        |    > 6.63) AS drifted
        |FROM x ORDER BY bucket""".stripMargin,

    "q_k_anonymity" ->
      """SELECT c_mktsegment, CAST(c_nationkey AS BIGINT) AS c_nationkey,
        |  count(*) AS n, count(*) >= 10 AS k_safe
        |FROM customer GROUP BY c_mktsegment, c_nationkey
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin,

    "q_text_pii" ->
      s"""WITH s AS (SELECT doc_id,
         |    text || ' contact user' || CAST(doc_id AS VARCHAR)
         |      || '@example.com or 555-010' || CAST(doc_id AS VARCHAR) AS synth
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(synth, '$EmailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(synth, '$PhoneRe')) AS BIGINT) AS n_phones,
         |  right(regexp_replace(regexp_replace(synth, '$EmailRe', '<EMAIL>', 'g'),
         |        '$PhoneRe', '<PHONE>', 'g'), 60) AS scrub_tail
         |FROM s ORDER BY doc_id""".stripMargin,

    "q_source_mix" ->
      """SELECT source, count(*) AS n_kept,
        |  CAST(min(rate_pm) AS BIGINT) AS rate_pm
        |FROM (SELECT source,
        |    (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      & 2147483647) % 1000 AS h,
        |    250 + (('0x' || substring(md5(source), 1, 15))::BIGINT
        |      & 2147483647) % 500 AS rate_pm
        |  FROM documents)
        |WHERE h < rate_pm
        |GROUP BY source ORDER BY source""".stripMargin,

    "q_sample_stratified" ->
      s"""SELECT lang, doc_id, n_chars, rn FROM (
         |  SELECT lang, doc_id, n_chars,
         |    CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
         |  FROM documents)
         |WHERE rn <= $StratN ORDER BY lang, rn""".stripMargin,

    "q_pack_chunks" ->
      s"""WITH b AS (SELECT doc_id,
         |    CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_tokens,
         |    (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
         |      & 2147483647) % $PackShards AS shard,
         |    md5(CAST(doc_id AS VARCHAR)) AS ord
         |  FROM documents),
         |c AS (SELECT *, CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard
         |    ORDER BY ord, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
         |  FROM b)
         |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
         |  CAST(cum // $PackTarget AS BIGINT) AS seq_id,
         |  CAST(cum % $PackTarget AS BIGINT) AS offset_in_seq, n_tokens
         |FROM c ORDER BY doc_id""".stripMargin,

    "q_batch_by_length" ->
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_tokens
         |  FROM documents),
         |b AS (SELECT doc_id, n_tokens,
         |    CAST(n_tokens // 32 AS BIGINT) AS bucket FROM t),
         |r AS (SELECT *, row_number() OVER (PARTITION BY bucket
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM b),
         |g AS (SELECT bucket * 1000000000000 + CAST((rn - 1) // 16 AS BIGINT)
         |    AS batch_id, n_tokens FROM r)
         |SELECT batch_id, count(*) AS n_docs, max(n_tokens) AS max_tokens,
         |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |  round(1.0 - CAST(sum(n_tokens) AS DOUBLE)
         |    / (count(*) * max(n_tokens)), 6) AS pad_waste
         |FROM g GROUP BY batch_id ORDER BY batch_id""".stripMargin,

    "q_dedup_cross_source" ->
      s"""WITH $sqlPairCtes,
         |syn AS (SELECT doc_id, base_id FROM docs WHERE doc_id <> base_id),
         |m AS (SELECT
         |    coalesce(sa.base_id, id_a) AS ba,
         |    coalesce(sb.base_id, id_b) AS bb
         |  FROM sim LEFT JOIN syn sa ON sa.doc_id = sim.id_a
         |           LEFT JOIN syn sb ON sb.doc_id = sim.id_b),
         |j AS (SELECT least(da.source, db.source) AS src_a,
         |    greatest(da.source, db.source) AS src_b
         |  FROM m JOIN documents da ON da.doc_id = m.ba
         |         JOIN documents db ON db.doc_id = m.bb)
         |SELECT src_a, src_b, count(*) AS n_pairs
         |FROM j GROUP BY src_a, src_b ORDER BY src_a, src_b""".stripMargin,

    "q_quality_gate_per_source" ->
      s"""WITH sig AS (SELECT doc_id, source,
         |    round(CASE WHEN length(text) = 0 THEN 0.0
         |      ELSE CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
         |        / CAST(length(text) AS DOUBLE) END, 6) AS alpha,
         |    round(CAST(len(list_filter(t, x -> x IN ($enStops))) AS DOUBLE)
         |      / CAST(len(t) AS DOUBLE), 6) AS stop,
         |    round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
         |      / CAST(len(t) AS DOUBLE), 6) AS mtl,
         |    round(1.0 - CAST(len(list_distinct(gs)) AS DOUBLE)
         |      / CAST(len(gs) AS DOUBLE), 6) AS dup
         |  FROM (SELECT doc_id, source, text, t,
         |      CASE WHEN len(t) >= 2
         |        THEN [array_to_string(t[i:i+1], ' ') for i in range(1, len(t))]
         |        ELSE [array_to_string(t, ' ')] END AS gs
         |    FROM (SELECT doc_id, source, text, ${sqlTokens("text")} AS t
         |          FROM documents))),
         |scored AS (SELECT doc_id, source,
         |    round(4.0 * alpha + 3.0 * least(stop * 5, 1.0)
         |      + 2.0 * (CASE WHEN mtl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END)
         |      + 1.0 * (1.0 - dup), 6) AS score
         |  FROM sig),
         |r AS (SELECT *, row_number() OVER (PARTITION BY source
         |      ORDER BY score DESC, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY source) AS n FROM scored),
         |k AS (SELECT * FROM r WHERE rn <= greatest(1, n // 4))
         |SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
         |  count(*) AS n_kept, min(score) AS threshold
         |FROM k GROUP BY source ORDER BY source""".stripMargin,

    "q_token_budget_select" ->
      s"""WITH sig AS (SELECT doc_id,
         |    round(CASE WHEN length(text) = 0 THEN 0.0
         |      ELSE CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
         |        / CAST(length(text) AS DOUBLE) END, 6) AS alpha,
         |    round(CAST(len(list_filter(t, x -> x IN ($enStops))) AS DOUBLE)
         |      / CAST(len(t) AS DOUBLE), 6) AS stop,
         |    round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
         |      / CAST(len(t) AS DOUBLE), 6) AS mtl,
         |    round(1.0 - CAST(len(list_distinct(gs)) AS DOUBLE)
         |      / CAST(len(gs) AS DOUBLE), 6) AS dup,
         |    CAST(len(t) AS BIGINT) AS n_tokens
         |  FROM (SELECT doc_id, text, t,
         |      CASE WHEN len(t) >= 2
         |        THEN [array_to_string(t[i:i+1], ' ') for i in range(1, len(t))]
         |        ELSE [array_to_string(t, ' ')] END AS gs
         |    FROM (SELECT doc_id, text, ${sqlTokens("text")} AS t
         |          FROM documents))),
         |scored AS (SELECT doc_id, n_tokens,
         |    round(4.0 * alpha + 3.0 * least(stop * 5, 1.0)
         |      + 2.0 * (CASE WHEN mtl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END)
         |      + 1.0 * (1.0 - dup), 6) AS score
         |  FROM sig),
         |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) // 4 AS budget FROM scored),
         |r AS (SELECT *, coalesce(sum(n_tokens) OVER (
         |      ORDER BY score DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
         |  FROM scored)
         |SELECT doc_id, score, n_tokens FROM r, t
         |WHERE prefix < budget ORDER BY doc_id""".stripMargin,

    "q_source_similarity" ->
      s"""WITH tok AS (SELECT source, doc_id, ${sqlTokens("text")} AS t
         |  FROM documents),
         |sh AS (SELECT source, doc_id, $sqlShingles AS sh FROM tok),
         |hv AS (SELECT source, list_transform(sh, x -> $sqlHash31) AS vs
         |  FROM sh),
         |sg AS (SELECT source, $sqlSig AS sig FROM hv),
         |u AS (SELECT source,
         |    unnest([{'p': i, 'v': sig[i]}
         |            for i in range(1, $NumHashes + 1)]) AS e
         |  FROM sg),
         |sk AS (SELECT source, list(mn ORDER BY p) AS ssig FROM (
         |    SELECT source, e.p AS p, min(e.v) AS mn FROM u
         |    GROUP BY source, e.p) GROUP BY source),
         |p AS (SELECT a.source AS src_a, b.source AS src_b,
         |    CAST(len(list_filter(range(1, $NumHashes + 1),
         |      i -> a.ssig[i] = b.ssig[i])) AS BIGINT) AS n_agree
         |  FROM sk a JOIN sk b ON a.source < b.source)
         |SELECT src_a, src_b, n_agree,
         |  round(CAST(n_agree AS DOUBLE) / $NumHashes, 6) AS est_jaccard
         |FROM p ORDER BY src_a, src_b""".stripMargin,

    // DuckDB substring() has no BLOB overload: slice the VARCHAR and
    // encode the slice. Char offsets == byte offsets because the corpus
    // is ASCII (the q_multimodal_meta oracle already leans on this).
    "q_frames" ->
      """WITH m AS (SELECT doc_id, text,
        |    octet_length(encode(text)) AS len
        |  FROM documents),
        |f AS (SELECT doc_id,
        |    unnest([{'i': i,
        |             'fr': encode(substring(text,
        |               CAST(len * i // 4 AS BIGINT) + 1, 16))}
        |            for i in range(0, 4)]) AS u
        |  FROM m WHERE len > 0)
        |SELECT doc_id, CAST(u.i AS BIGINT) AS frame_idx,
        |  CAST(octet_length(u.fr) AS BIGINT) AS n_frame_bytes,
        |  hex(u.fr) AS frame_hex
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    // Stride sampling over chars == stride sampling over bytes on the
    // ASCII corpus; md5 of the VARCHAR equals Spark's md5 of the BLOB
    // because the octets are identical.
    "q_media_resize" ->
      """WITH m AS (SELECT doc_id, text, length(text) AS len
        |  FROM documents),
        |r AS (SELECT doc_id,
        |    array_to_string([substring(text, CAST(i AS INT), 1)
        |      for i in range(1, CAST(len AS INT) + 1, 3)], '') AS rs
        |  FROM m)
        |SELECT doc_id, CAST(length(rs) AS BIGINT) AS n_bytes,
        |  md5(rs) AS resized_md5
        |FROM r ORDER BY doc_id""".stripMargin,

    // ASCII corpus: byte value == codepoint, so the window energy is a
    // sum of ord() over the char window (same ragged-tail-dropping
    // framing arithmetic as Multimodal.frameWindows).
    "q_audio_windows" ->
      """WITH m AS (SELECT doc_id, text,
        |    octet_length(encode(text)) AS len FROM documents),
        |w AS (SELECT doc_id, text,
        |    unnest(range(0, CASE WHEN len >= 16
        |      THEN (len - 16) // 8 + 1 ELSE 0 END)) AS win_idx
        |  FROM m)
        |SELECT doc_id, CAST(win_idx AS BIGINT) AS win_idx,
        |  CAST(list_sum([ord(substring(text,
        |      CAST(win_idx * 8 + j + 1 AS INT), 1))
        |    for j in range(0, 16)]) AS BIGINT) AS energy
        |FROM w ORDER BY doc_id, win_idx""".stripMargin,

    // Portable feature stub: f_j = int(md5(hex(payload)||':'||j)[0:8],
    // 16) % 1e6 / 1e6 — recomputed here from the same primitives the
    // Scala codec uses (uppercase hex, lowercase-md5 hex digest).
    "q_image_features" ->
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |  FROM documents)
        |SELECT doc_id, n_bytes,
        |  round((('0x' || substring(md5(hx || ':0'), 1, 8))::BIGINT
        |    % 1000000) / 1000000.0, 6) AS f0,
        |  round((('0x' || substring(md5(hx || ':1'), 1, 8))::BIGINT
        |    % 1000000) / 1000000.0, 6) AS f1,
        |  round((('0x' || substring(md5(hx || ':2'), 1, 8))::BIGINT
        |    % 1000000) / 1000000.0, 6) AS f2,
        |  round((('0x' || substring(md5(hx || ':3'), 1, 8))::BIGINT
        |    % 1000000) / 1000000.0, 6) AS f3
        |FROM b ORDER BY doc_id""".stripMargin,

    "q_tfidf" ->
      s"""WITH tok AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |  GROUP BY doc_id, term),
         |df AS (SELECT term, count(*) AS df
         |  FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |sc AS (SELECT tf.doc_id, tf.term, tf.tf,
         |    round(CAST(tf.tf * n.n_docs AS DOUBLE) / df.df, 6) AS score
         |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, term) AS rn FROM sc)
         |SELECT doc_id, term, tf, score, CAST(rn AS BIGINT) AS rn FROM r
         |WHERE rn <= $TfIdfTopN ORDER BY doc_id, rn""".stripMargin,

    "q_bm25" ->
      s"""WITH tok AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |  GROUP BY doc_id, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |dlen AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
         |g AS (SELECT count(*) AS n_docs,
         |    sum(CAST(len(${sqlTokens("text")}) AS BIGINT)) AS tot_dl
         |  FROM documents),
         |sc AS (SELECT tf.doc_id, tf.term, tf.tf,
         |    round(((CAST(g.n_docs - df.df AS DOUBLE) + 0.5) /
         |           (CAST(df.df AS DOUBLE) + 0.5)) *
         |          ((CAST(tf.tf AS DOUBLE) * 2.2) /
         |           (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
         |            (CAST(dlen.dl AS DOUBLE) /
         |             (CAST(g.tot_dl AS DOUBLE) / CAST(g.n_docs AS DOUBLE)))))),
         |      6) AS score
         |  FROM tf JOIN df USING (term) JOIN dlen USING (doc_id) CROSS JOIN g),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, term) AS rn FROM sc)
         |SELECT doc_id, term, tf, score, CAST(rn AS BIGINT) AS rn FROM r
         |WHERE rn <= $TfIdfTopN ORDER BY doc_id, rn""".stripMargin,

    "q_text_diversity" ->
      s"""WITH tf AS (SELECT doc_id, term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(${sqlTokens("text")}) AS term
         |        FROM documents)
         |  GROUP BY doc_id, term),
         |a AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |    count(*) AS n_distinct, CAST(sum(tf * tf) AS BIGINT) AS sum_sq
         |  FROM tf GROUP BY doc_id)
         |SELECT doc_id, n_tokens, n_distinct,
         |  round(1.0 - CAST(sum_sq AS DOUBLE) /
         |    CAST(n_tokens * n_tokens AS DOUBLE), 6) AS simpson,
         |  round(CAST(n_tokens * n_tokens AS DOUBLE) /
         |    CAST(sum_sq AS DOUBLE), 6) AS eff_vocab
         |FROM a ORDER BY doc_id""".stripMargin,

    "q_dedup_url" ->
      """WITH r AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'https://' END ||
        |     CASE WHEN doc_id % 3 = 0 THEN 'WWW.Site' ELSE 'site' END ||
        |     CAST(doc_id % 5 AS VARCHAR) || '.Example.COM/Page/' ||
        |     CAST(doc_id % 20 AS VARCHAR) ||
        |     CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END ||
        |     CASE WHEN doc_id % 3 = 0
        |       THEN '?utm_source=mail&ref=' || CAST(doc_id % 6 AS VARCHAR)
        |       ELSE '' END) AS raw
        |  FROM documents),
        |c AS (SELECT doc_id, raw,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(lower(raw), '\?.*$', ''),
        |        '/$', ''),
        |      '^https?://(www\.)?', 'https://') AS url
        |  FROM r)
        |SELECT url, min(doc_id) AS keep_id, count(*) AS n_raw,
        |  count(DISTINCT raw) AS n_variants
        |FROM c GROUP BY url ORDER BY url""".stripMargin,

    "q_join_fuzzy" ->
      s"""WITH $sqlDocsCte,
         |a AS (SELECT doc_id, base_id, text, length(text) // 64 AS blk
         |  FROM docs),
         |b AS (SELECT doc_id AS batch_id, text AS bt, blk FROM a
         |  WHERE doc_id <> base_id),
         |c AS (SELECT doc_id AS corpus_id, text AS ct, blk FROM a
         |  WHERE doc_id = base_id)
         |SELECT batch_id, corpus_id,
         |  CAST(levenshtein(bt, ct) AS BIGINT) AS dist
         |FROM c JOIN b USING (blk)
         |WHERE levenshtein(bt, ct) <= 20
         |ORDER BY batch_id, corpus_id""".stripMargin,

    "q_graph_triangles" ->
      s"""WITH $sqlPairCtes,
         |e AS (SELECT id_a AS a, id_b AS b FROM sim),
         |nn AS (SELECT count(*) AS n_nodes FROM
         |  (SELECT a AS id FROM e UNION SELECT b FROM e)),
         |ne AS (SELECT count(*) AS n_edges FROM e),
         |tr AS (SELECT count(*) AS n_triangles
         |  FROM e e1 JOIN e e2 ON e1.b = e2.a
         |    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
         |SELECT n_nodes, n_edges, n_triangles
         |FROM ne CROSS JOIN nn CROSS JOIN tr""".stripMargin,

    "q_degree_dist" ->
      s"""WITH $sqlPairCtes,
         |deg AS (SELECT id, count(*) AS degree
         |  FROM (SELECT id_a AS id FROM sim
         |        UNION ALL SELECT id_b AS id FROM sim)
         |  GROUP BY id)
         |SELECT degree, count(*) AS n_nodes FROM deg
         |GROUP BY degree ORDER BY degree""".stripMargin,

    "q_ngram_novelty" ->
      s"""WITH g AS (SELECT doc_id, unnest(${sqlShinglesK(2)}) AS x
         |  FROM (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents)),
         |h AS (SELECT doc_id, $sqlHash31 AS h FROM g),
         |gd AS (SELECT h, count(*) AS n_docs_with FROM h GROUP BY h),
         |j AS (SELECT doc_id, n_docs_with FROM h JOIN gd USING (h))
         |SELECT doc_id, count(*) AS n_grams,
         |  CAST(sum(CASE WHEN n_docs_with = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_unique,
         |  round(CAST(sum(CASE WHEN n_docs_with = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS novelty
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_chunk_overlap" ->
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents),
         |ch AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         |    unnest([{'idx': i,
         |             'h': md5(array_to_string(
         |               t[i*$ChunkStride+1:i*$ChunkStride+$ChunkLen], ' '))}
         |            for i in range(0,
         |              (greatest(len(t) - $ChunkLen, 0) + ${ChunkStride - 1})
         |                // $ChunkStride + 1)]) AS u
         |  FROM tok)
         |SELECT doc_id, CAST(u.idx AS BIGINT) AS chunk_idx,
         |  u.h AS chunk_md5, n_tokens
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_url_extract" ->
      s"""WITH s AS (SELECT doc_id,
         |    text || ' see https://site' || CAST(doc_id % 7 AS VARCHAR)
         |      || '.example.com/p/' || CAST(doc_id AS VARCHAR)
         |      || ' and http://ref' || CAST(doc_id % 3 AS VARCHAR)
         |      || '.org/x?q=' || CAST(doc_id AS VARCHAR) AS synth
         |  FROM documents),
         |u AS (SELECT doc_id, unnest(regexp_extract_all(synth, '$UrlRe')) AS url
         |  FROM s)
         |SELECT regexp_extract(url, '$HostRe', 1) AS host,
         |  count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs
         |FROM u GROUP BY host ORDER BY host""".stripMargin,

    "q_quality_score" ->
      s"""WITH sig AS (SELECT doc_id,
         |    round(CASE WHEN length(text) = 0 THEN 0.0
         |      ELSE CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
         |        / CAST(length(text) AS DOUBLE) END, 6) AS alpha,
         |    round(CAST(len(list_filter(t, x -> x IN ($enStops))) AS DOUBLE)
         |      / CAST(len(t) AS DOUBLE), 6) AS stop,
         |    round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
         |      / CAST(len(t) AS DOUBLE), 6) AS mtl,
         |    round(1.0 - CAST(len(list_distinct(gs)) AS DOUBLE)
         |      / CAST(len(gs) AS DOUBLE), 6) AS dup
         |  FROM (SELECT doc_id, text, t,
         |      CASE WHEN len(t) >= 2
         |        THEN [array_to_string(t[i:i+1], ' ') for i in range(1, len(t))]
         |        ELSE [array_to_string(t, ' ')] END AS gs
         |    FROM (SELECT doc_id, text, ${sqlTokens("text")} AS t
         |          FROM documents)))
         |SELECT doc_id, score,
         |  CASE WHEN score > 8.0 THEN 'high'
         |       WHEN score > 5.0 THEN 'mid' ELSE 'low' END AS tier
         |FROM (SELECT doc_id,
         |    round(4.0 * alpha + 3.0 * least(stop * 5, 1.0)
         |      + 2.0 * (CASE WHEN mtl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END)
         |      + 1.0 * (1.0 - dup), 6) AS score
         |  FROM sig)
         |ORDER BY doc_id""".stripMargin,

    "q_posexplode" ->
      s"""WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS t
         |  FROM documents WHERE doc_id < 20),
         |u AS (SELECT doc_id,
         |    unnest([{'p': i - 1, 'tok': t[i]} for i in range(1, len(t) + 1)])
         |      AS u
         |  FROM t)
         |SELECT doc_id, CAST(u.p AS BIGINT) AS pos, u.tok AS tok
         |FROM u ORDER BY doc_id, pos""".stripMargin,

    "q_dataset_split" ->
      """SELECT lang, split, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars
        |FROM (SELECT lang, n_chars,
        |    CASE WHEN b < 80 THEN 'train'
        |         WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT lang, n_chars,
        |      (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |        & 2147483647) % 100 AS b
        |    FROM documents))
        |GROUP BY lang, split ORDER BY lang, split""".stripMargin,

    "q_sim_sparse_topk" ->
      s"""WITH tk AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
         |kept AS (SELECT doc_id, term, tf FROM (
         |    SELECT doc_id, term, tf,
         |      count(*) OVER (PARTITION BY term) AS df FROM tf)
         |  WHERE df <= $SparseDfCut),
         |nrm AS (SELECT doc_id, sum(tf * tf) AS nrm FROM kept GROUP BY 1),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    sum(a.tf * b.tf) AS dot
         |  FROM kept a JOIN kept b
         |    ON a.term = b.term AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, CAST(dot AS BIGINT) AS dot,
         |  round(CAST(dot * dot AS DOUBLE) /
         |    CAST(na.nrm * nb.nrm AS DOUBLE), 9) AS cos2
         |FROM p
         |JOIN nrm na ON na.doc_id = p.doc_a
         |JOIN nrm nb ON nb.doc_id = p.doc_b
         |ORDER BY cos2 DESC, doc_a, doc_b LIMIT 20""".stripMargin,

    "q_shuffle_det" ->
      """SELECT shard, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS keysum,
        |  min(k) AS first_key, max(k) AS last_key
        |FROM (SELECT doc_id, k,
        |    ('0x' || substring(k, 1, 1))::BIGINT AS shard
        |  FROM (SELECT doc_id,
        |      md5('epoch-7:' || CAST(doc_id AS VARCHAR)) AS k
        |    FROM documents))
        |GROUP BY shard ORDER BY shard""".stripMargin,

    "q_split_leakfree" ->
      s"""WITH RECURSIVE $sqlPairCtes,
         |edges AS (SELECT id_a AS a, id_b AS b FROM sim
         |  UNION SELECT id_b, id_a FROM sim),
         |walk(id, root) AS (
         |  SELECT a AS id, a AS root FROM edges
         |  UNION
         |  SELECT e.b AS id, w.root FROM walk w JOIN edges e ON e.a = w.id),
         |cl AS (SELECT id AS doc_id, min(root) AS root
         |  FROM walk GROUP BY id),
         |u AS (SELECT d.doc_id, coalesce(cl.root, d.doc_id) AS unit
         |  FROM docs d LEFT JOIN cl ON cl.doc_id = d.doc_id)
         |SELECT doc_id, unit,
         |  CASE WHEN b < 80 THEN 'train'
         |       WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id, unit,
         |    (('0x' || substring(md5(CAST(unit AS VARCHAR)), 1, 15))::BIGINT
         |      & 2147483647) % 100 AS b
         |  FROM u)
         |ORDER BY doc_id""".stripMargin,

    "q_cap_per_source" ->
      """WITH r AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, source, CAST(rn AS BIGINT) AS rn FROM r
        |WHERE rn <= 5 ORDER BY source, rn""".stripMargin,

    "q_embed_quant" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |m AS (SELECT vec_id, v, list_min(v) AS vmin, list_max(v) AS vmax
        |  FROM e),
        |q AS (SELECT vec_id, vmin, vmax,
        |    list_transform(v, x -> CASE WHEN vmax = vmin THEN 0
        |      ELSE CAST(floor((x - vmin) * 255 / (vmax - vmin)) AS BIGINT)
        |      END) AS q
        |  FROM m)
        |SELECT vec_id, round(vmin, 6) AS vmin_r, round(vmax, 6) AS vmax_r,
        |  CAST(list_sum(q) AS BIGINT) AS qsum, q[1] AS q0, q[2] AS q1
        |FROM q ORDER BY vec_id""".stripMargin,

    "q_kmeans_step" ->
      """WITH x AS (SELECT label,
        |    unnest([{'d': i - 1,
        |             'x': CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,9))}
        |            for i in range(1, len(embedding) + 1)]) AS u
        |  FROM embeddings)
        |SELECT label, CAST(u.d AS BIGINT) AS dim,
        |  round(CAST(sum(u.x) AS DOUBLE) / count(*), 6) AS mean_x
        |FROM x GROUP BY label, dim ORDER BY label, dim""".stripMargin,

    "q_embed_dim_stats" ->
      """WITH x AS (SELECT
        |    unnest([{'d': i - 1, 'x': CAST(embedding[i] AS DOUBLE)}
        |            for i in range(1, len(embedding) + 1)]) AS u
        |  FROM embeddings),
        |a AS (SELECT CAST(u.d AS BIGINT) AS dim, count(*) AS n,
        |    CAST(sum(CAST(u.x AS DECIMAL(18,9))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(u.x * u.x AS DECIMAL(18,9))) AS DOUBLE) AS s2,
        |    min(u.x) AS xmin, max(u.x) AS xmax
        |  FROM x GROUP BY dim),
        |m AS (SELECT dim, n, s1 / n AS m_, sqrt(s2 / n - (s1 / n) * (s1 / n)) AS sd,
        |    xmin, xmax FROM a)
        |SELECT dim, n, round(m_, 6) AS mean, round(sd, 6) AS std,
        |  round((xmin - m_) / sd, 6) AS z_min,
        |  round((xmax - m_) / sd, 6) AS z_max
        |FROM m ORDER BY dim""".stripMargin,

    "q_embed_standardize" ->
      """WITH x AS (SELECT
        |    unnest([{'d': i - 1, 'x': CAST(embedding[i] AS DOUBLE)}
        |            for i in range(1, len(embedding) + 1)]) AS u
        |  FROM embeddings),
        |a AS (SELECT CAST(u.d AS BIGINT) AS dim,
        |    CAST(sum(CAST(u.x AS DECIMAL(18,9))) AS DOUBLE) / count(*) AS m_,
        |    sqrt(CAST(sum(CAST(u.x * u.x AS DECIMAL(18,9))) AS DOUBLE) / count(*)
        |      - (CAST(sum(CAST(u.x AS DECIMAL(18,9))) AS DOUBLE) / count(*))
        |        * (CAST(sum(CAST(u.x AS DECIMAL(18,9))) AS DOUBLE) / count(*))) AS sd
        |  FROM x GROUP BY dim),
        |ml AS (SELECT list(m_ ORDER BY dim) AS ms, list(sd ORDER BY dim) AS ss FROM a),
        |z AS (SELECT vec_id,
        |    [(CAST(embedding[i] AS DOUBLE) - ms[i]) / ss[i]
        |     for i in range(1, len(embedding) + 1)] AS zl
        |  FROM embeddings, ml)
        |SELECT vec_id, round(zl[1], 6) AS z0, round(zl[2], 6) AS z1,
        |  round(zl[len(zl)], 6) AS z_last,
        |  CAST(len(list_filter(zl, zi -> zi > 0)) AS BIGINT) AS n_pos
        |FROM z ORDER BY vec_id""".stripMargin,

    "q_minhash_est" ->
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents),
         |sh AS (SELECT doc_id, $sqlShingles AS sh FROM tok),
         |hv AS (SELECT doc_id, list_transform(sh, x -> $sqlHash31) AS vs FROM sh),
         |sg AS (SELECT doc_id, $sqlSig AS sig FROM hv),
         |j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.sig AS sig_a, b.sig AS sig_b, x.sh AS sh_a, y.sh AS sh_b
         |  FROM sg a JOIN sg b ON b.doc_id = a.doc_id + 1
         |  JOIN sh x ON x.doc_id = a.doc_id
         |  JOIN sh y ON y.doc_id = b.doc_id),
         |e AS (SELECT id_a, id_b,
         |    round(CAST(len(list_filter(range(1, ${NumHashes + 1}),
         |      i -> sig_a[i] = sig_b[i])) AS DOUBLE) / $NumHashes, 6)
         |      AS est_jaccard,
         |    round(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
         |      / CAST(len(list_distinct(list_concat(sh_a, sh_b))) AS DOUBLE), 6)
         |      AS exact_jaccard
         |  FROM j)
         |SELECT id_a, id_b, est_jaccard, exact_jaccard,
         |  round(abs(est_jaccard - exact_jaccard), 6) AS abs_err
         |FROM e ORDER BY id_a""".stripMargin,

    "q_dedup_media" ->
      """WITH t AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 7 = 0),
        |g AS (
        |  SELECT sha256(text) AS h, min(doc_id) AS keeper,
        |    count(*) AS n_copies
        |  FROM t GROUP BY 1)
        |SELECT n_copies, count(*) AS n_groups,
        |  CAST(sum(keeper) AS BIGINT) AS keeper_keysum
        |FROM g GROUP BY n_copies ORDER BY n_copies""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  sha256(text) AS content_sha,
        |  hex(encode(substring(text, 1, 16))) AS head_hex,
        |  to_base64(encode(substring(text, 1, 24))) AS head_b64
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_vocab_coverage" ->
      s"""WITH tk AS (SELECT unnest(${sqlTokens("text")}) AS tok
         |  FROM documents),
         |c AS (SELECT tok, count(*) AS n FROM tk GROUP BY tok),
         |t AS (SELECT count(*) AS tot FROM tk),
         |r AS (SELECT tok, n,
         |    row_number() OVER (ORDER BY n DESC, tok) AS rank,
         |    sum(n) OVER (ORDER BY n DESC, tok
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM c)
         |SELECT CAST(rank AS BIGINT) AS rank, tok, n,
         |  round(CAST(cum AS DOUBLE) / tot, 6) AS cum_frac
         |FROM r, t WHERE rank <= $VocabTopN ORDER BY rank""".stripMargin,

    "q_oov_rate" ->
      s"""WITH tk AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS tok
         |  FROM documents),
         |v AS (SELECT tok FROM (SELECT tok, count(*) AS n FROM tk
         |  GROUP BY tok ORDER BY n DESC, tok LIMIT $VocabSize)),
         |o AS (SELECT doc_id, count(*) AS oov_raw FROM tk
         |  WHERE tok NOT IN (SELECT tok FROM v) GROUP BY doc_id),
         |p AS (SELECT doc_id,
         |    CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_tokens
         |  FROM documents)
         |SELECT p.doc_id, n_tokens,
         |  CAST(coalesce(o.oov_raw, 0) AS BIGINT) AS n_oov,
         |  round(CAST(coalesce(o.oov_raw, 0) AS DOUBLE) / n_tokens, 6)
         |    AS oov_frac
         |FROM p LEFT JOIN o ON p.doc_id = o.doc_id
         |ORDER BY p.doc_id""".stripMargin,

    "q_dedup_incremental" ->
      s"""WITH $sqlDocsCte,
         |tok AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM docs),
         |sh AS (SELECT doc_id, $sqlShingles AS sh FROM tok),
         |hv AS (SELECT doc_id, list_transform(sh, x -> $sqlHash31) AS vs
         |  FROM sh),
         |sg AS (SELECT doc_id, $sqlSig AS sig FROM hv),
         |bk AS (SELECT doc_id,
         |    unnest([${sqlBands.mkString(", ")}]) AS band_key FROM sg),
         |cand AS (SELECT DISTINCT b.doc_id AS new_id, c.doc_id AS match_id
         |  FROM bk b JOIN bk c ON b.band_key = c.band_key
         |  JOIN docs bd ON bd.doc_id = b.doc_id
         |  JOIN docs cd ON cd.doc_id = c.doc_id
         |  WHERE bd.doc_id <> bd.base_id AND cd.doc_id = cd.base_id),
         |j AS (SELECT new_id, match_id,
         |    round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
         |          CAST(len(list_distinct(list_concat(x.sh, y.sh)))
         |            AS DOUBLE), 6) AS jaccard
         |  FROM cand JOIN sh x ON x.doc_id = new_id
         |    JOIN sh y ON y.doc_id = match_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY new_id
         |    ORDER BY jaccard DESC, match_id) AS rn FROM j)
         |SELECT new_id, match_id, jaccard, jaccard >= 0.5 AS is_dup
         |FROM r WHERE rn = 1 ORDER BY new_id""".stripMargin,

    // the daily accounting delta: verified batch-vs-corpus pairs (same
    // candidate/jaccard chain as q_dedup_incremental, WITHOUT the
    // best-match restriction) mapped to base-doc sources and counted
    "q_dedup_cross_incremental" ->
      s"""WITH $sqlDocsCte,
         |tok AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM docs),
         |sh AS (SELECT doc_id, $sqlShingles AS sh FROM tok),
         |hv AS (SELECT doc_id, list_transform(sh, x -> $sqlHash31) AS vs
         |  FROM sh),
         |sg AS (SELECT doc_id, $sqlSig AS sig FROM hv),
         |bk AS (SELECT doc_id,
         |    unnest([${sqlBands.mkString(", ")}]) AS band_key FROM sg),
         |cand AS (SELECT DISTINCT b.doc_id AS new_id, c.doc_id AS match_id
         |  FROM bk b JOIN bk c ON b.band_key = c.band_key
         |  JOIN docs bd ON bd.doc_id = b.doc_id
         |  JOIN docs cd ON cd.doc_id = c.doc_id
         |  WHERE bd.doc_id <> bd.base_id AND cd.doc_id = cd.base_id),
         |j AS (SELECT new_id, match_id,
         |    round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
         |          CAST(len(list_distinct(list_concat(x.sh, y.sh)))
         |            AS DOUBLE), 6) AS jaccard
         |  FROM cand JOIN sh x ON x.doc_id = new_id
         |    JOIN sh y ON y.doc_id = match_id),
         |v AS (SELECT new_id, match_id FROM j WHERE jaccard >= 0.5),
         |m AS (SELECT d.base_id AS ba, v.match_id AS bb
         |  FROM v JOIN docs d ON d.doc_id = v.new_id),
         |jj AS (SELECT least(da.source, db.source) AS src_a,
         |    greatest(da.source, db.source) AS src_b
         |  FROM m JOIN documents da ON da.doc_id = m.ba
         |         JOIN documents db ON db.doc_id = m.bb)
         |SELECT src_a, src_b, count(*) AS n_pairs
         |FROM jj GROUP BY src_a, src_b ORDER BY src_a, src_b""".stripMargin,

    // the persisted-index probe must equal the memoized-index answer,
    // with the disk/maintenance booleans pinned
    "q_dedup_index_persist" ->
      s"""WITH $sqlDocsCte,
         |tok AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM docs),
         |sh AS (SELECT doc_id, $sqlShingles AS sh FROM tok),
         |hv AS (SELECT doc_id, list_transform(sh, x -> $sqlHash31) AS vs
         |  FROM sh),
         |sg AS (SELECT doc_id, $sqlSig AS sig FROM hv),
         |bk AS (SELECT doc_id,
         |    unnest([${sqlBands.mkString(", ")}]) AS band_key FROM sg),
         |cand AS (SELECT DISTINCT b.doc_id AS new_id, c.doc_id AS match_id
         |  FROM bk b JOIN bk c ON b.band_key = c.band_key
         |  JOIN docs bd ON bd.doc_id = b.doc_id
         |  JOIN docs cd ON cd.doc_id = c.doc_id
         |  WHERE bd.doc_id <> bd.base_id AND cd.doc_id = cd.base_id),
         |j AS (SELECT new_id, match_id,
         |    round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
         |          CAST(len(list_distinct(list_concat(x.sh, y.sh)))
         |            AS DOUBLE), 6) AS jaccard
         |  FROM cand JOIN sh x ON x.doc_id = new_id
         |    JOIN sh y ON y.doc_id = match_id),
         |v AS (SELECT new_id, match_id FROM j WHERE jaccard >= 0.5),
         |m AS (SELECT d.base_id AS ba, v.match_id AS bb
         |  FROM v JOIN docs d ON d.doc_id = v.new_id),
         |jj AS (SELECT least(da.source, db.source) AS src_a,
         |    greatest(da.source, db.source) AS src_b
         |  FROM m JOIN documents da ON da.doc_id = m.ba
         |         JOIN documents db ON db.doc_id = m.bb)
         |SELECT src_a, src_b, count(*) AS n_pairs,
         |  true AS probe_from_disk, true AS index_maintained
         |FROM jj GROUP BY src_a, src_b ORDER BY src_a, src_b""".stripMargin,

    // the streaming-maintained index's probe must equal the
    // incremental accounting, with exactly Bands rows per document
    "q_stream_index_maintain" ->
      s"""WITH $sqlDocsCte,
         |tok AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM docs),
         |sh AS (SELECT doc_id, $sqlShingles AS sh FROM tok),
         |hv AS (SELECT doc_id, list_transform(sh, x -> $sqlHash31) AS vs
         |  FROM sh),
         |sg AS (SELECT doc_id, $sqlSig AS sig FROM hv),
         |bk AS (SELECT doc_id,
         |    unnest([${sqlBands.mkString(", ")}]) AS band_key FROM sg),
         |cand AS (SELECT DISTINCT b.doc_id AS new_id, c.doc_id AS match_id
         |  FROM bk b JOIN bk c ON b.band_key = c.band_key
         |  JOIN docs bd ON bd.doc_id = b.doc_id
         |  JOIN docs cd ON cd.doc_id = c.doc_id
         |  WHERE bd.doc_id <> bd.base_id AND cd.doc_id = cd.base_id),
         |j AS (SELECT new_id, match_id,
         |    round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
         |          CAST(len(list_distinct(list_concat(x.sh, y.sh)))
         |            AS DOUBLE), 6) AS jaccard
         |  FROM cand JOIN sh x ON x.doc_id = new_id
         |    JOIN sh y ON y.doc_id = match_id),
         |v AS (SELECT new_id, match_id FROM j WHERE jaccard >= 0.5),
         |m AS (SELECT d.base_id AS ba, v.match_id AS bb
         |  FROM v JOIN docs d ON d.doc_id = v.new_id),
         |jj AS (SELECT least(da.source, db.source) AS src_a,
         |    greatest(da.source, db.source) AS src_b
         |  FROM m JOIN documents da ON da.doc_id = m.ba
         |         JOIN documents db ON db.doc_id = m.bb)
         |SELECT src_a, src_b, count(*) AS n_pairs,
         |  true AS index_maintained
         |FROM jj GROUP BY src_a, src_b ORDER BY src_a, src_b""".stripMargin,

    // the post-compaction probe must equal the incremental accounting
    "q_dedup_index_compact" ->
      s"""WITH $sqlDocsCte,
         |tok AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM docs),
         |sh AS (SELECT doc_id, $sqlShingles AS sh FROM tok),
         |hv AS (SELECT doc_id, list_transform(sh, x -> $sqlHash31) AS vs
         |  FROM sh),
         |sg AS (SELECT doc_id, $sqlSig AS sig FROM hv),
         |bk AS (SELECT doc_id,
         |    unnest([${sqlBands.mkString(", ")}]) AS band_key FROM sg),
         |cand AS (SELECT DISTINCT b.doc_id AS new_id, c.doc_id AS match_id
         |  FROM bk b JOIN bk c ON b.band_key = c.band_key
         |  JOIN docs bd ON bd.doc_id = b.doc_id
         |  JOIN docs cd ON cd.doc_id = c.doc_id
         |  WHERE bd.doc_id <> bd.base_id AND cd.doc_id = cd.base_id),
         |j AS (SELECT new_id, match_id,
         |    round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
         |          CAST(len(list_distinct(list_concat(x.sh, y.sh)))
         |            AS DOUBLE), 6) AS jaccard
         |  FROM cand JOIN sh x ON x.doc_id = new_id
         |    JOIN sh y ON y.doc_id = match_id),
         |v AS (SELECT new_id, match_id FROM j WHERE jaccard >= 0.5),
         |m AS (SELECT d.base_id AS ba, v.match_id AS bb
         |  FROM v JOIN docs d ON d.doc_id = v.new_id),
         |jj AS (SELECT least(da.source, db.source) AS src_a,
         |    greatest(da.source, db.source) AS src_b
         |  FROM m JOIN documents da ON da.doc_id = m.ba
         |         JOIN documents db ON db.doc_id = m.bb)
         |SELECT src_a, src_b, count(*) AS n_pairs,
         |  true AS compacted
         |FROM jj GROUP BY src_a, src_b ORDER BY src_a, src_b""".stripMargin,

    // post-delete accounting: the corpus side of the candidate join
    // loses exactly the tombstoned docs (their band rows were deleted
    // from the index); the engine's file-level booleans are pinned TRUE
    "q_dedup_index_delete" ->
      s"""WITH $sqlDocsCte,
         |tok AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM docs),
         |sh AS (SELECT doc_id, $sqlShingles AS sh FROM tok),
         |hv AS (SELECT doc_id, list_transform(sh, x -> $sqlHash31) AS vs
         |  FROM sh),
         |sg AS (SELECT doc_id, $sqlSig AS sig FROM hv),
         |bk AS (SELECT doc_id,
         |    unnest([${sqlBands.mkString(", ")}]) AS band_key FROM sg),
         |cand AS (SELECT DISTINCT b.doc_id AS new_id, c.doc_id AS match_id
         |  FROM bk b JOIN bk c ON b.band_key = c.band_key
         |  JOIN docs bd ON bd.doc_id = b.doc_id
         |  JOIN docs cd ON cd.doc_id = c.doc_id
         |  WHERE bd.doc_id <> bd.base_id AND cd.doc_id = cd.base_id
         |    AND cd.doc_id % 50 <> 7),
         |j AS (SELECT new_id, match_id,
         |    round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
         |          CAST(len(list_distinct(list_concat(x.sh, y.sh)))
         |            AS DOUBLE), 6) AS jaccard
         |  FROM cand JOIN sh x ON x.doc_id = new_id
         |    JOIN sh y ON y.doc_id = match_id),
         |v AS (SELECT new_id, match_id FROM j WHERE jaccard >= 0.5),
         |m AS (SELECT d.base_id AS ba, v.match_id AS bb
         |  FROM v JOIN docs d ON d.doc_id = v.new_id),
         |jj AS (SELECT least(da.source, db.source) AS src_a,
         |    greatest(da.source, db.source) AS src_b
         |  FROM m JOIN documents da ON da.doc_id = m.ba
         |         JOIN documents db ON db.doc_id = m.bb)
         |SELECT src_a, src_b, count(*) AS n_pairs,
         |  true AS deleted_gone, true AS untouched_kept
         |FROM jj GROUP BY src_a, src_b ORDER BY src_a, src_b""".stripMargin,

    // table->index sync: same final index as q_dedup_index_delete
    // (corpus+batch bands minus the tombstoned docs), maintained
    // incrementally through the snapshot table's change surfaces —
    // the oracle is therefore the same accounting
    "q_snapshot_index_sync" ->
      s"""WITH $sqlDocsCte,
         |tok AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM docs),
         |sh AS (SELECT doc_id, $sqlShingles AS sh FROM tok),
         |hv AS (SELECT doc_id, list_transform(sh, x -> $sqlHash31) AS vs
         |  FROM sh),
         |sg AS (SELECT doc_id, $sqlSig AS sig FROM hv),
         |bk AS (SELECT doc_id,
         |    unnest([${sqlBands.mkString(", ")}]) AS band_key FROM sg),
         |cand AS (SELECT DISTINCT b.doc_id AS new_id, c.doc_id AS match_id
         |  FROM bk b JOIN bk c ON b.band_key = c.band_key
         |  JOIN docs bd ON bd.doc_id = b.doc_id
         |  JOIN docs cd ON cd.doc_id = c.doc_id
         |  WHERE bd.doc_id <> bd.base_id AND cd.doc_id = cd.base_id
         |    AND cd.doc_id % 50 <> 7),
         |j AS (SELECT new_id, match_id,
         |    round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
         |          CAST(len(list_distinct(list_concat(x.sh, y.sh)))
         |            AS DOUBLE), 6) AS jaccard
         |  FROM cand JOIN sh x ON x.doc_id = new_id
         |    JOIN sh y ON y.doc_id = match_id),
         |v AS (SELECT new_id, match_id FROM j WHERE jaccard >= 0.5),
         |m AS (SELECT d.base_id AS ba, v.match_id AS bb
         |  FROM v JOIN docs d ON d.doc_id = v.new_id),
         |jj AS (SELECT least(da.source, db.source) AS src_a,
         |    greatest(da.source, db.source) AS src_b
         |  FROM m JOIN documents da ON da.doc_id = m.ba
         |         JOIN documents db ON db.doc_id = m.bb)
         |SELECT src_a, src_b, count(*) AS n_pairs,
         |  true AS delta_only, true AS takedown_synced
         |FROM jj GROUP BY src_a, src_b ORDER BY src_a, src_b""".stripMargin,

    // the drained streaming LSH hits = per-bucket (doc, min-doc) pairs
    "q_stream_neardup_drain" ->
      s"""WITH $sqlDocsCte,
         |tok AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM docs),
         |sh AS (SELECT doc_id, $sqlShingles AS sh FROM tok),
         |hv AS (SELECT doc_id, list_transform(sh, x -> $sqlHash31) AS vs
         |  FROM sh),
         |sg AS (SELECT doc_id, $sqlSig AS sig FROM hv),
         |bk AS (SELECT doc_id,
         |    unnest([${sqlBands.mkString(", ")}]) AS band_key FROM sg),
         |ex AS (SELECT band_key, min(doc_id) AS exemplar_id FROM bk
         |  GROUP BY band_key)
         |SELECT b.doc_id, e.exemplar_id, b.band_key
         |FROM bk b JOIN ex e ON b.band_key = e.band_key
         |WHERE b.doc_id <> e.exemplar_id
         |ORDER BY b.doc_id, b.band_key""".stripMargin,

    "q_substring_dup" ->
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("text")} AS t
         |  FROM documents),
         |g AS (SELECT doc_id, unnest(${sqlShinglesAllK(DupK)}) AS x
         |  FROM tok),
         |hh AS (SELECT doc_id, $sqlHash31 AS h FROM g),
         |dup AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd
         |  FROM hh GROUP BY h) WHERE nd >= 2),
         |c AS (SELECT doc_id, count(*) AS dup_raw FROM hh
         |  WHERE h IN (SELECT h FROM dup) GROUP BY doc_id),
         |n AS (SELECT doc_id,
         |    CAST(len(${sqlShinglesAllK(DupK)}) AS BIGINT) AS n_grams
         |  FROM tok)
         |SELECT n.doc_id, n_grams,
         |  CAST(coalesce(c.dup_raw, 0) AS BIGINT) AS n_dup_pos,
         |  round(CAST(coalesce(c.dup_raw, 0) AS DOUBLE) / n_grams, 6)
         |    AS dup_frac
         |FROM n LEFT JOIN c ON n.doc_id = c.doc_id
         |ORDER BY n.doc_id""".stripMargin,

    "q_ntile" ->
      """SELECT lang, doc_id, n_chars,
        |  CAST(ntile(4) OVER (PARTITION BY lang
        |    ORDER BY n_chars, doc_id) AS BIGINT) AS bin
        |FROM documents ORDER BY lang, doc_id""".stripMargin,

    "q_class_weights" ->
      """WITH per AS (SELECT label, count(*) AS n
        |  FROM embeddings GROUP BY label),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot, count(*) AS k FROM per)
        |SELECT label, n,
        |  round(CAST(tot AS DOUBLE) / CAST(k * n AS DOUBLE), 6) AS weight
        |FROM per, t ORDER BY label""".stripMargin,

    "q_normalize" ->
      """WITH r AS (SELECT doc_id,
        |    '  A!b@C# ' || text || ' :u' || CAST(doc_id AS VARCHAR)
        |      || '  ' AS raw
        |  FROM documents),
        |n AS (SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(raw),
        |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        |  FROM r)
        |SELECT doc_id, CAST(length(norm) AS BIGINT) AS n_chars_norm,
        |  substring(norm, 1, 60) AS head,
        |  CASE WHEN length(norm) >= 20
        |    THEN substring(norm, length(norm) - 19, 20) ELSE norm END AS tail
        |FROM n ORDER BY doc_id""".stripMargin,

    "q_sketch_cms" -> {
      val u = (0 until CmsD).map(i =>
        s"($i, ${TextOps.hashA(i)}, ${TextOps.hashB(i)})").mkString(", ")
      s"""WITH tc AS (SELECT tok, count(*) AS n
         |  FROM (SELECT unnest(${sqlTokens("text")}) AS tok FROM documents)
         |  GROUP BY tok),
         |u(r, a, bb) AS (SELECT * FROM (VALUES $u)),
         |cells AS (SELECT r, b, CAST(sum(n) AS BIGINT) AS c FROM (
         |    SELECT u.r,
         |      ((u.a * (('0x' || substring(md5(tok), 1, 15))::BIGINT
         |        & 2147483647) + u.bb) % 2147483647) % $CmsW AS b, n
         |    FROM tc, u)
         |  GROUP BY r, b),
         |pr AS (SELECT unnest([$enStops]) AS tok),
         |pe AS (SELECT tok, u.r,
         |    ((u.a * (('0x' || substring(md5(tok), 1, 15))::BIGINT
         |      & 2147483647) + u.bb) % 2147483647) % $CmsW AS b
         |  FROM pr, u),
         |est AS (SELECT tok, min(coalesce(c, 0)) AS est_n
         |  FROM pe LEFT JOIN cells USING (r, b) GROUP BY tok)
         |SELECT e.tok, CAST(coalesce(tc.n, 0) AS BIGINT) AS exact_n,
         |  CAST(est_n AS BIGINT) AS est_n,
         |  CAST(est_n - coalesce(tc.n, 0) AS BIGINT) AS overcount
         |FROM est e LEFT JOIN tc ON e.tok = tc.tok
         |ORDER BY e.tok""".stripMargin
    },

    "q_dedup_containment" ->
      s"""WITH sh AS (SELECT doc_id, $sqlShingles AS sh
         |  FROM (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_common,
         |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / len(a.sh), 6) AS contain_a,
         |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / len(b.sh), 6) AS contain_b,
         |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / len(a.sh), 6) >= 0.9 OR
         |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / len(b.sh), 6) >= 0.9 AS subset_dup
         |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
         |ORDER BY id_a""".stripMargin,

    "q_dedup_sweep" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |p AS (SELECT round(list_dot_product(a.v, b.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) *
        |     sqrt(list_dot_product(b.v, b.v))), 6) AS cos
        |  FROM e a JOIN e b ON b.vec_id = a.vec_id + 1)
        |SELECT count(*) AS n_pairs,
        |  CAST(sum(CASE WHEN cos >= 0.7 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS ge_70,
        |  CAST(sum(CASE WHEN cos >= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS ge_80,
        |  CAST(sum(CASE WHEN cos >= 0.9 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS ge_90
        |FROM p""".stripMargin,

    "q_ann_recall" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |      CAST(embedding AS DOUBLE[]))) AS nrm
         |  FROM embeddings),
         |reps AS (SELECT r.rep_id, e.v AS rv, e.nrm AS rn_
         |  FROM (SELECT label, min(vec_id) AS rep_id FROM e GROUP BY label) r
         |  JOIN e ON e.vec_id = r.rep_id),
         |scored_cells AS (SELECT e.vec_id, e.v, e.nrm, reps.rep_id,
         |    list_dot_product(e.v, reps.rv) / (e.nrm * reps.rn_) AS rep_score
         |  FROM e CROSS JOIN reps),
         |assigned AS (SELECT vec_id, v, nrm, rep_id AS cell FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY rep_score DESC, rep_id) AS cell_rn FROM scored_cells)
         |  WHERE cell_rn = 1),
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cell AS q_cell
         |  FROM assigned WHERE vec_id < 5),
         |ip AS (SELECT q.q_id, a.vec_id,
         |    list_dot_product(q.qv, a.v) / (q.qn * a.nrm) AS score
         |  FROM assigned a JOIN q ON a.cell = q.q_cell AND a.vec_id != q.q_id),
         |ivf AS (SELECT q_id, vec_id FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn FROM ip)
         |  WHERE rn <= $AnnK),
         |bp AS (SELECT qq.vec_id AS q_id, c.vec_id,
         |    list_dot_product(qq.v, c.v) / (qq.nrm * c.nrm) AS score
         |  FROM e qq JOIN e c ON qq.vec_id < 5 AND c.vec_id != qq.vec_id),
         |exact AS (SELECT q_id, vec_id FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn FROM bp)
         |  WHERE rn <= $AnnK),
         |h AS (SELECT q_id, count(*) AS n_hits
         |  FROM exact JOIN ivf USING (q_id, vec_id)
         |  GROUP BY q_id)
         |SELECT x.q_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / $AnnK, 6) AS recall
         |FROM (SELECT DISTINCT q_id FROM exact) x
         |LEFT JOIN h ON x.q_id = h.q_id
         |ORDER BY x.q_id""".stripMargin,

    "q_bigram_lm" ->
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("text")} AS t
         |  FROM documents),
         |g AS (SELECT unnest(${sqlShinglesAllK(2)}) AS x FROM tok),
         |p AS (SELECT string_split(x, ' ')[1] AS cur,
         |    string_split(x, ' ')[2] AS nxt FROM g),
         |pc AS (SELECT cur, nxt, count(*) AS n_pair FROM p
         |  GROUP BY cur, nxt),
         |w AS (SELECT *, CAST(sum(n_pair) OVER (PARTITION BY cur)
         |    AS BIGINT) AS n_cur FROM pc)
         |SELECT cur, nxt, n_pair,
         |  round(CAST(n_pair AS DOUBLE) / n_cur, 6) AS p_next
         |FROM w WHERE n_pair >= 5 ORDER BY cur, nxt""".stripMargin,

    "q_lm_score" ->
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("text")} AS t
         |  FROM documents),
         |g AS (SELECT doc_id, unnest(${sqlShinglesAllK(2)}) AS x FROM tok),
         |per AS (SELECT doc_id, x, count(*) AS n_occ FROM g
         |  GROUP BY doc_id, x),
         |w AS (SELECT doc_id, x, n_occ, string_split(x, ' ')[1] AS w1
         |  FROM per),
         |cb AS (SELECT x, sum(n_occ) AS c_big FROM per GROUP BY x),
         |cp AS (SELECT w1, sum(n_occ) AS c_pre FROM w GROUP BY w1),
         |j AS (SELECT w.doc_id, w.n_occ,
         |    CAST(round(CAST(cb.c_big AS DOUBLE) / CAST(cp.c_pre AS DOUBLE),
         |      6) AS DECIMAL(18,6)) AS p6
         |  FROM w JOIN cb USING (x) JOIN cp USING (w1))
         |SELECT doc_id, CAST(sum(n_occ) AS BIGINT) AS m,
         |  CAST(sum(CAST(n_occ * p6 * 1000000 AS BIGINT)) AS BIGINT)
         |    AS p_sum_micro,
         |  CAST(sum(CAST(n_occ * p6 * 1000000 AS BIGINT)) AS BIGINT)
         |    // CAST(sum(n_occ) AS BIGINT) AS avg_p_micro
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
