package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operator family for the training-data pipeline —
  * SURVEY.md §7.6 (extends the reference's exact `distinct()` dedup,
  * ref 流行音乐趋势预测.md:42, to the near-dup forms a 100 TB corpus
  * needs). Every operator is a pure DataFrame plan: shuffles are keyed
  * on doc_id / shingle / band — never a driver-side collect.
  */
object Dedup {

  /** Canonical text form for content hashing: lowercase + collapsed
    * whitespace. */
  def normalized(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Exact dedup groups by content hash (hash-groupBy): one row per
    * distinct normalized text, keeper = min doc_id. At scale this is a
    * single shuffle on a 128-bit hash — the baseline the sketch-based
    * variants approximate.
    */
  def exactDupGroups(docs: DataFrame): DataFrame =
    docs
      .select(md5(normalized(col("text")).cast("binary")).as("content_hash"),
              col("doc_id"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))

  /** Exploded distinct word n-gram shingle table:
    * (doc_id, n_sh, sh). Docs shorter than n tokens drop out (no full
    * window → can't collide).
    *
    * Deliberately NOT the array-lambda form
    * (`transform(sequence, i -> element_at(tokens, i+j))`): higher-order
    * lambdas are interpreted (CodegenFallback) and projection collapse
    * inlines the `split()` under every `element_at`, re-running the
    * regex tokenizer per element — measured 184 s for 260 k shingles at
    * sf0.1. The posexplode + window-lead plan tokenizes each doc once,
    * stays in codegen, and costs one shuffle on doc_id.
    */
  def shingleRows(docs: DataFrame, n: Int = 3): DataFrame = {
    val sh = positionalShingles(docs, n)
      .select(col("doc_id"), col("sh"))
      .distinct()
    sh.withColumn("n_sh", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
  }

  /** (doc_id, pos, sh) — every n-gram shingle WITH its token position
    * (duplicates kept): the positional base [[shingleRows]] distincts
    * over, and the span detector consumes directly. Same codegen'd
    * posexplode + window-lead plan — NOT the array-lambda form, which
    * is interpreted and re-tokenizes per element (see the
    * [[shingleRows]] rationale above). */
  def positionalShingles(docs: DataFrame, n: Int = 3): DataFrame = {
    require(n >= 2, "shingle width must be >= 2")
    // spread before the split+posexplode: the tokenize explosion is the
    // heavy narrow leg of every shingle derivation, and the fixture
    // documents scan is one row group → 1 partition (no-op at scale)
    val toks = graft.model.Tables.spread(docs, col("doc_id")).select(col("doc_id"),
      posexplode(split(lower(trim(col("text"))), "\\s+")).as(Seq("pos", "tok")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val leads = (1 until n).map(j => lead(col("tok"), j).over(w).as(s"tok$j"))
    toks
      .select(col("doc_id") +: col("pos") +: col("tok") +: leads: _*)
      .filter(col(s"tok${n - 1}").isNotNull) // only full windows
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", col("tok") +: (1 until n).map(j => col(s"tok$j")): _*)
          .as("sh"))
  }

  /** Exact n-gram Jaccard near-dup pairs: self-join on shingle →
    * per-pair intersection count → |A∩B| / (|A|+|B|−|A∩B|) ≥ threshold.
    * Scale note: the shingle self-join is quadratic in per-shingle doc
    * frequency; at 100 TB run [[minHashLshPairs]] instead (this exact
    * form is the oracle-checkable ground truth).
    */
  def jaccardPairs(docs: DataFrame, threshold: Double, n: Int = 3,
                   shingleTable: Option[DataFrame] = None): DataFrame = {
    // shingleTable: a prebuilt (doc_id, sh, n_sh) frame — the
    // write-once graft.sources.ShingleLayout — value-identical to the
    // in-query derivation; None keeps the self-contained form
    val ex = shingleTable.getOrElse(shingleRows(docs, n))
    val a = ex.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a"), col("sh"))
    val b = ex.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b"), col("sh"))
    val jac = col("inter") / (col("n_a") + col("n_b") - col("inter"))
    a.join(b, Seq("sh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"), min(col("n_a")).as("n_a"),
           min(col("n_b")).as("n_b"))
      .filter(jac >= threshold)
      .select(col("doc_a"), col("doc_b"), round(jac, 4).as("jaccard"))
  }

  /** Asymmetric n-gram CONTAINMENT pairs: C(A→B) = |A∩B| / |A| ≥
    * threshold emits (contained = A, container = B). Jaccard misses
    * the quote/subset duplicate — a short doc wholly embedded in a
    * long one has tiny |A∩B|/|A∪B| but containment ≈ 1 — so corpus
    * curation runs BOTH: Jaccard for near-twins, containment for
    * engulfed docs (the "article + its syndicated excerpt" case).
    * Same single shingle self-join and per-pair aggregate as
    * [[jaccardPairs]] (one pass computes inter/n_a/n_b; both
    * directions are projections of the same aggregated row, no second
    * join), so the same scale story applies: this exact form is the
    * oracle-checkable ground truth; at 100 TB the candidate source
    * swaps to [[minHashLshPairs]] banding — containment-biased
    * banding just lowers the effective threshold to
    * t·|A|/(|A|+|B|−inter) on the Jaccard scale.
    */
  def containmentPairs(docs: DataFrame, threshold: Double, n: Int = 3,
                       shingleTable: Option[DataFrame] = None): DataFrame = {
    val ex = shingleTable.getOrElse(shingleRows(docs, n))
    val a = ex.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a"), col("sh"))
    val b = ex.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b"), col("sh"))
    // checkpointed: fwd and bwd below are two projections of this ONE
    // aggregated pair table (a small frontier — pairs, not corpus);
    // without it the Union re-executed the whole shingle self-join +
    // aggregate per direction (q169's round-12 plan carried the join
    // subtree twice — the q27/q89 multi-use lesson)
    val agg = a.join(b, Seq("sh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"), min(col("n_a")).as("n_a"),
           min(col("n_b")).as("n_b"))
      .localCheckpoint(false)
    val fwd = agg.select(col("doc_a").as("contained"),
      col("doc_b").as("container"), (col("inter") / col("n_a")).as("cont"))
    val bwd = agg.select(col("doc_b").as("contained"),
      col("doc_a").as("container"), (col("inter") / col("n_b")).as("cont"))
    fwd.unionAll(bwd)
      .filter(col("cont") >= threshold)
      .select(col("contained"), col("container"),
        round(col("cont"), 4).as("containment"))
  }

  /** Longest shared n-gram RUN per near-dup pair — the exact-substring
    * duplication measure (the span view of dedup: Lee et al.'s
    * "Deduplicating Training Data" removes repeated spans, not whole
    * docs). Matched shingle positions of a truly shared substring fall
    * on one diagonal (pa − pb = const) at consecutive pa — so the
    * longest shared span is the largest island of consecutive
    * positions within a (pair, diagonal) group (gaps-and-islands via
    * the pa − row_number trick), and a run of r shingles spans
    * r + n − 1 tokens. The position join only touches docs already
    * paired by [[jaccardPairs]] at `threshold`, so its cost is
    * O(pairs × positions), not corpus-quadratic; at 100 TB the pair
    * source would be [[minHashLshPairs]] — same downstream plan.
    */
  def sharedSpanPairs(docs: DataFrame, threshold: Double, n: Int = 3,
                      shingleTable: Option[DataFrame] = None,
                      pairTable: Option[DataFrame] = None): DataFrame = {
    // pairTable: a prebuilt (doc_a, doc_b, …) frame — the write-once
    // graft.sources.PairsLayout — value-identical to deriving pairs
    // here; None keeps the self-contained form.
    // checkpointed: the pair list feeds the id filter AND the final
    // join (no cross-subtree CSE — rerunning the shingle self-join
    // twice would double the operator's dominant cost)
    val pairs = pairTable.getOrElse(jaccardPairs(docs, threshold, n, shingleTable))
      .select("doc_a", "doc_b")
      .localCheckpoint(false)
    // only docs that appear in some pair can contribute a shared span —
    // semi-filter the positional table BEFORE its (doc, sh) shuffle, so
    // the position join moves O(paired docs), not O(corpus), through
    // the exchange (at 100 TB pairs ≪ corpus; this is the difference
    // between a span pass and a second corpus shuffle)
    val pairIds = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val posSh = positionalShingles(docs, n)
      .join(broadcast(pairIds), Seq("doc_id"), "left_semi")
    val a = posSh.select(col("doc_id").as("doc_a"), col("pos").as("pa"), col("sh"))
    val b = posSh.select(col("doc_id").as("doc_b"), col("pos").as("pb"), col("sh"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"), col("doc_b"), col("diag")).orderBy(col("pa"))
    pairs.join(a, "doc_a").join(b, Seq("doc_b", "sh"))
      .select(col("doc_a"), col("doc_b"),
        (col("pa") - col("pb")).as("diag"), col("pa"))
      .distinct()
      .withColumn("grp", col("pa") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg((max(col("run")) + lit(n - 1)).as("longest_span_tokens"),
        count(lit(1)).as("n_runs"))
  }

  /** Corpus-wide duplicated-span detection — the ExactSubstr view of
    * dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better", gram-anchored form): a token position is
    * duplicated when the length-`n` gram starting there occurs at ≥2
    * positions anywhere in the corpus (other docs OR elsewhere in the
    * same doc, matching the suffix-array semantics). Each duplicated
    * position widens to the interval [pos, pos+n−1]; per doc the
    * intervals are unioned by a cumulative-max sweep (an island starts
    * where pos jumps past the running max end + 1 — plain interval
    * union, NOT the consecutive-position islands of
    * [[sharedSpanPairs]], whose gaps < n would otherwise split
    * overlapping intervals into double-counted spans). Emits one row
    * per maximal span: (doc_id, span_start, span_len).
    *
    * Unlike [[sharedSpanPairs]] this never enumerates pairs: cost is
    * one shuffle on the gram key (occurrence count) + one on doc_id
    * (sweep), both linear in corpus grams — the shape that survives
    * 100 TB, where pair-scoped span detection is quadratic in
    * near-dup cluster size. The gram key is the raw token text so the
    * oracle replays value-exactly; `hashedKey = true` is the 100 TB
    * form — xxhash64(sh) shrinks the count/join exchange from ~n
    * tokens of text to 8 bytes per row. A 64-bit collision could only
    * ADD a spurious duplicated position (marking ~n extra tokens), so
    * the hashed form equals the exact one absent collisions — q157
    * carries q151's own oracle on that basis (q27's banding-note
    * precedent: a future mismatch is a collision to triage, not an
    * engine bug).
    */
  def duplicatedSpans(docs: DataFrame, n: Int = 8,
                      hashedKey: Boolean = false): DataFrame = {
    // Occurrence counts via groupBy + join-back, NOT a count-over-
    // window on sh: a window partition cannot be split, so one
    // boilerplate gram with huge df would serialize into a single
    // task at 100 TB, while the aggregate form collapses heavy grams
    // map-side (partial agg) and leaves the join-back skew to AQE.
    // The ≥2 filter also shrinks the join's build side to just the
    // duplicated grams — typically a small fraction of the corpus.
    // pos feeds BOTH the count and the probe side — checkpointed once
    // (the q27/q89 multi-use-subtree lesson).
    val pos0 = positionalShingles(docs, n)
    val pos = (if (hashedKey) pos0.withColumn("sh", xxhash64(col("sh")))
               else pos0).localCheckpoint(false)
    val dupGrams = pos.groupBy(col("sh"))
      .agg(count(lit(1)).as("occ")).filter(col("occ") >= 2)
      .select(col("sh"))
    val dupPos = pos.join(dupGrams, Seq("sh"), "left_semi")
    sweepSpans(dupPos, n)
  }

  /** Interval-union sweep shared by [[duplicatedSpans]] and
    * [[duplicatedSpansAgainst]]: duplicated (doc_id, pos) rows →
    * maximal merged spans. One doc_id-partitioned window pass; the
    * island group-by reuses the same partitioning (no extra shuffle).
    */
  private def sweepSpans(dupPos: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dupPos
      .select(col("doc_id"), col("pos"), (col("pos") + lit(n - 1)).as("end"))
      .withColumn("prev_end", max(col("end"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_end").isNull || col("pos") > col("prev_end") + 1, 1)
          .otherwise(0))
      .withColumn("island", sum(col("new_island")).over(byDoc))
      .groupBy(col("doc_id"), col("island")) // doc_id partitioning reused
      .agg(min(col("pos")).as("span_start"),
        (max(col("end")) - min(col("pos")) + 1).as("span_len"))
      .select(col("doc_id"), col("span_start").cast("long").as("span_start"),
        col("span_len").cast("long").as("span_len"))
  }

  /** Admission-time ExactSubstr: spans of INCOMING docs that duplicate
    * content already present in the EXISTING corpus — the incremental
    * form a 100 TB pipeline actually runs per ingest wave (q151's
    * corpus-wide pass is the backfill; this is the per-wave check).
    * The dup criterion is asymmetric: a gram needs only EXIST in the
    * corpus (its index — at scale the write-once gram table — is the
    * static side of a stream-static semi-join); within-wave
    * duplication is deliberately NOT counted here, it belongs to the
    * next corpus-wide pass once the wave is admitted. Cost: one
    * distinct over corpus grams + one semi-join keyed on the gram +
    * the per-doc sweep — incoming-wave-linear, corpus appears only
    * through its (deduplicated) gram index.
    */
  def duplicatedSpansAgainst(existing: DataFrame, incoming: DataFrame,
                             n: Int = 8,
                             corpusGrams: Option[DataFrame] = None)
      : DataFrame = {
    // corpusGrams: the prebuilt distinct gram index of `existing` —
    // the write-once graft.sources.SpansLayout.yesterdayGrams table —
    // value-identical to the in-query derivation; None keeps the
    // self-contained form.
    val cg = corpusGrams.getOrElse(
      positionalShingles(existing, n).select(col("sh")).distinct())
    val dupPos = positionalShingles(incoming, n)
      .join(cg, Seq("sh"), "left_semi")
    sweepSpans(dupPos, n)
  }

  /** ExactSubstr CUT — the removal operator the paper actually applies:
    * drop every token covered by a [[duplicatedSpans]] span and rebuild
    * the remaining text in position order. All docs survive (a fully
    * duplicated doc comes back with n_kept=0 and empty text — the
    * caller decides whether to drop empties). Token drop is a left-anti
    * range join on (doc_id, pos ∈ span): both sides shuffle once on
    * doc_id and the per-doc span list is tiny, so the join never goes
    * corpus-quadratic; the ordered rebuild is a sort inside a per-doc
    * aggregate (the q78 collect→sort idiom), not a global window.
    */
  def exactSubstrCut(docs: DataFrame, n: Int = 8,
                     spanTable: Option[DataFrame] = None): DataFrame = {
    // spanTable: a prebuilt (doc_id, span_start, span_len) frame — the
    // write-once graft.sources.SpansLayout — value-identical to the
    // in-query derivation; None keeps the self-contained form.
    val spans = spanTable.getOrElse(duplicatedSpans(docs, n))
    val toks = docs.select(col("doc_id"),
      posexplode(split(lower(trim(col("text"))), "\\s+")).as(Seq("pos", "tok")))
    val kept = toks.join(spans,
      toks("doc_id") === spans("doc_id") &&
        col("pos").between(col("span_start"),
          col("span_start") + col("span_len") - 1),
      "left_anti")
    val rebuilt = kept
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos").as("p"),
              col("tok").as("t")))),
            x => x.getField("t")),
          " ").as("cleaned_text"))
    docs.select(col("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
  }

  /** PPJoin-style prefix-filtered EXACT Jaccard (Xiao et al., WWW'08;
    * Chaudhuri et al., ICDE'06): identical result to [[jaccardPairs]]
    * (q26's oracle covers both), but the self-join only indexes each
    * document's first |d| − ⌈t·|d|⌉ + 1 shingles under a global
    * rarest-first order. Soundness: J(a,b) ≥ t ⇒ overlap ≥ ⌈t·|a|⌉
    * (denominator ≥ |a| since |b| ≥ overlap), and a pair sharing
    * nothing in a's prefix overlaps at most ⌈t·|a|⌉ − 1 — so every
    * qualifying pair collides inside both prefixes. At 100 TB this cuts
    * the join's per-shingle fan-out from document frequency to
    * prefix-restricted frequency — and the hottest (most common)
    * shingles are the ones prefixes exclude, exactly where the df²
    * blowup lives.
    *
    * Use HIGH thresholds: the prefix length is (1−t)·|d|+1, so at
    * t=0.4 the "prefix" still spans 60% of each document and prunes
    * almost nothing (measured 522 k candidates → 415 s of verification
    * at sf0.1), while at t=0.8 the same corpus yields 118.8 k prefix
    * collisions which the length + positional filters cut to 12.7 k
    * verified candidates — a ~2.6 s query that beats the naive join.
    * Below ~0.6, run [[jaccardPairs]] (count-based full join) or
    * [[minHashLshPairs]] instead.
    */
  def jaccardPairsPrefix(docs: DataFrame, threshold: Double, n: Int = 3,
                         shingleTable: Option[DataFrame] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0,1]")
    val W = org.apache.spark.sql.expressions.Window
    // shingle table feeds rarity ranking + verification arrays; a
    // prebuilt layout table needs no checkpoint (parquet re-scans are
    // the storage-read path), the derived form materializes once
    val sh = shingleTable.getOrElse(shingleRows(docs, n).localCheckpoint(false))
    val dfreq = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // checkpointed: feeds both sides of the self-join (no cross-subtree
    // CSE in Spark — same reason sh is checkpointed)
    val prefix = sh.join(dfreq, Seq("sh"))
      .withColumn("rk", row_number().over(
        W.partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))))
      .filter(col("rk") <=
        col("n_sh") - ceil(lit(threshold) * col("n_sh")) + 1)
      .select(col("doc_id"), col("sh"), col("rk"), col("n_sh"))
      .localCheckpoint(false)
    // Candidate pruning beyond the prefix collision — the two classic
    // PPJoin filters the round-4 review found missing (they are why
    // this form lost to the naive join at sf0.1: 119 k candidates
    // expanded to ~50 M verification rows):
    //  - LENGTH: J(a,b) ≥ t forces t·|a| ≤ |b| ≤ |a|/t — applied on
    //    the raw collision stream, before the pair aggregate;
    //  - POSITIONAL: both prefixes are sorted by the same global
    //    (df, sh) key, so the shared shingle minimizing rk_a also
    //    minimizes rk_b, and overlap ≤ min(n_a−i+1, n_b−j+1) at that
    //    first collision (i, j) — which must reach the equivalent-
    //    overlap threshold α = ⌈t/(1+t)·(n_a+n_b)⌉ (Xiao et al. §3.2).
    // Measured at sf0.1/t=0.8: 118.8 k prefix collisions → 43.5 k
    // after length → 12.7 k after positional (9.4×); query 4.5 s →
    // ~2.6 s warm, now FASTER than the naive join (~3.5 s) at the
    // same scale — the round-4 inversion is gone.
    val alpha = ceil(lit(threshold / (1 + threshold)) *
      (col("n_a") + col("n_b")))
    val cand = prefix.as("x").join(prefix.as("y"), Seq("sh"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .filter(col("y.n_sh") >= lit(threshold) * col("x.n_sh") &&
        col("y.n_sh") <= col("x.n_sh") / lit(threshold))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(min(col("x.rk")).as("i"), min(col("y.rk")).as("j"),
        min(col("x.n_sh")).as("n_a"), min(col("y.n_sh")).as("n_b"))
      .filter(least(col("n_a") - col("i") + 1, col("n_b") - col("j") + 1)
        >= alpha)
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
    // Count-based verification (NOT per-pair array_intersect, which is
    // O(|a|·|b|) per candidate and amplifies under load): expand each
    // candidate by doc_a's shingles, inner-join on (doc_b, sh) to keep
    // only SHARED shingles, count per pair — every step a codegen'd
    // hash join/aggregate. Pairs with zero shared shingles drop out of
    // the inner join; they can't reach any positive threshold anyway.
    // The doc sizes ride along from the candidate aggregate (two int
    // columns on the expand stream) instead of re-joining a sizes
    // table twice afterwards.
    val interCnt = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).cast("double").as("inter"),
        min(col("n_a")).as("n_a"), min(col("n_b")).as("n_b"))
    val jac = col("inter") / (col("n_a") + col("n_b") - col("inter"))
    interCnt
      .filter(jac >= threshold)
      .select(col("doc_a"), col("doc_b"), round(jac, 4).as("jaccard"))
  }

  /** MinHash signatures: k independent permutations approximated by one
    * xxhash64 of the shingle + k splitmix lane mixes inside a single
    * [[graft.functions.MinHashAgg]] buffer (the round-1 form re-hashed
    * the full shingle text k times per row — see MinHashAgg scaladoc).
    * One hash-agg over the exploded shingles, no extra shuffle beyond
    * the doc_id grouping; output keeps the (doc_id, n_sh, h0..h{k-1})
    * shape the LSH banding consumes.
    */
  def minHashSignatures(docs: DataFrame, k: Int = 64, n: Int = 3): DataFrame =
    signaturesOver(shingleRows(docs, n), k)

  /** [[minHashSignatures]] over an existing shingle table — the single
    * implementation both it and [[minHashLshPairs]] share (the LSH
    * pipeline feeds its CHECKPOINTED shingles, so the signature step
    * must not rebuild them). */
  private def signaturesOver(sh: DataFrame, k: Int): DataFrame = {
    import graft.functions.MinHashAgg.min_hash_agg
    sh.groupBy(col("doc_id"))
      .agg(min(col("n_sh")).as("n_sh"),
        min_hash_agg(xxhash64(col("sh")), k).as("sig"))
      .select(col("doc_id") +: col("n_sh") +:
        (0 until k).map(i => element_at(col("sig"), i + 1).as(s"h$i")): _*)
  }

  /** MinHash + LSH banding: signatures → `bands` band hashes → bucket
    * join on (band_idx, band_hash) → candidate pairs → verified with
    * exact Jaccard (computed only for candidates). The standard
    * shingle→minhash→band→bucket-join pipeline. Defaults k=64,
    * bands=32 (r=2): a pair AT the q27 threshold (s=0.4) is a
    * candidate with probability 1−(1−s²)³² ≈ 0.996 (vs 0.94 at 16
    * bands — chosen because q27's oracle is the exact pair list, so
    * the miss probability at the gate corpus must be negligible, not
    * just "high"; above-threshold pairs decay further, s=0.6 → 1−6e−7).
    * The wider signature is one aggregate buffer either way.
    */
  def minHashLshPairs(docs: DataFrame, threshold: Double,
                      k: Int = 64, bands: Int = 32, n: Int = 3,
                      shingleTable: Option[DataFrame] = None,
                      maxBucket: Option[Int] = None): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    require(maxBucket.forall(_ >= 2), "a cap below 2 emits no pairs")
    val r = k / bands
    // the shingle table feeds three subtrees (signatures + both sides of
    // the verification join); Spark has no cross-subtree CSE, so
    // materialize it once — the same checkpoint-for-reuse the reference
    // applied between its pipeline stages (SURVEY.md §4.1). A prebuilt
    // layout table is already storage — re-scanning it is the point.
    val sh = shingleTable.getOrElse(shingleRows(docs, n).localCheckpoint(false))
    val sig = signaturesOver(sh, k)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band_idx"),
        xxhash64((b * r until (b + 1) * r).map(i => col(s"h$i")): _*).as("band_hash"))
    }
    val buckets0 = sig
      .select(col("doc_id"), explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("band.band_idx"), col("band.band_hash"))
    // Skew guard (SCALING.md "known cliffs" #1): at web-scale
    // duplication a copied-everywhere page puts millions of docs into
    // ONE (band, hash) bucket, and the candidate self-join's Σ bucket²
    // blows up on exactly that bucket — skew AQE can't split away,
    // because the collisions ARE the signal. `maxBucket` bounds every
    // overfull bucket's cost to O(size) with two linear mechanisms:
    //
    //  1. THIN the pair join: a deterministic per-(doc, bucket) hash
    //     coin keeps ~cap members (scattered — a row_number cap would
    //     funnel the giant bucket through one task, recreating the
    //     skew it fixes), so the self-join pays ~cap² per bucket;
    //  2. ANCHOR the rest: every member of an overfull bucket emits
    //     one candidate against the bucket's deterministic
    //     representative (min coin). For the regime the cap exists
    //     for — a giant bucket that IS one duplicate class — every
    //     anchor passes verification, so the class stays one
    //     component BY CONSTRUCTION (the coin alone attached only
    //     ~56% of a 2000-doc clique; SCALING.md "Known cliffs",
    //     cliff 1, has the capped-vs-uncapped measurements).
    //
    // Soundness: anchors and thinned pairs alike pass the exact
    // pair-local Jaccard verification below, so there are never false
    // positives — capping only chooses which TRUE pairs materialize.
    // Recall limit, stated honestly: in a MIXED overfull bucket
    // (distinct clusters colliding — at r=2 rows/band hash accidents
    // do happen), a cross-cluster true pair whose members both miss
    // the coin and aren't near-dups of the representative is not
    // emitted FROM THIS BUCKET and falls back to the ordinary
    // multi-band OR recall (every other shared band is another
    // chance, and an accidental-collision bucket is rarely the
    // pair's only one). Capping therefore preserves the duplicate-
    // class structure it targets and degrades gracefully — it does
    // NOT guarantee identical components to uncapped banding on
    // adversarial mixtures. None (the default, and every catalog
    // entry) is exact banding.
    val (buckets, anchorCand) = maxBucket match {
      case None => (buckets0, None)
      case Some(cap) =>
        val coin = xxhash64(col("doc_id"), col("band_hash"))
        val sizes = buckets0.groupBy(col("band_idx"), col("band_hash"))
          .agg(count(lit(1)).as("sz"),
            min_by(col("doc_id"), xxhash64(col("doc_id"), col("band_hash")))
              .as("rep"))
        val joined = buckets0.join(sizes, Seq("band_idx", "band_hash"))
        // Column `/` is DOUBLE division — the modulus must be the
        // integer ⌈sz/cap⌉ or the coin's keep-rate collapses (a
        // fractional modulus only zeroes on exact multiples)
        val thin = floor((col("sz") + lit(cap - 1)) / lit(cap)).cast("long")
        val thinned = joined
          .filter(col("sz") <= cap || pmod(coin, thin) === 0)
          .select(col("doc_id"), col("band_idx"), col("band_hash"))
        val anchors = joined
          .filter(col("sz") > cap && col("doc_id") =!= col("rep"))
          .select(least(col("doc_id"), col("rep")).as("doc_a"),
            greatest(col("doc_id"), col("rep")).as("doc_b"))
        (thinned, Some(anchors))
    }
    val bucketCand = buckets.as("x")
      .join(buckets.as("y"), Seq("band_idx", "band_hash"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val cand = anchorCand
      .map(bucketCand.unionByName(_)).getOrElse(bucketCand)
      .distinct()
    // verify candidates with exact Jaccard — pair-local array intersect,
    // so verification cost is proportional to |candidates|, not corpus²
    val shArr = sh.groupBy(col("doc_id")).agg(collect_list(col("sh")).as("shingles"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    val jac = inter / (size(col("sh_a")) + size(col("sh_b")) - inter)
    cand
      .join(shArr.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), Seq("doc_a"))
      .join(shArr.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), Seq("doc_b"))
      .filter(jac >= threshold)
      .select(col("doc_a"), col("doc_b"), round(jac, 4).as("jaccard"))
  }

  /** Asymmetric near-dup probe for INCREMENTAL dedup: each `incoming`
    * document's best exact-Jaccard match among `existing` documents (at
    * `threshold`), one row per flagged incoming doc. The join is
    * one-directional — incoming shingles probe the existing side's
    * shingle table — which is the growing-corpus admission shape: the
    * existing corpus's shingle index is the stable big side, the new
    * batch is the small probe side, and cost scales with the batch,
    * not the corpus². Returns (doc_id, dup_of, jaccard) with dup_of =
    * the best match (highest jaccard, smallest id on ties).
    */
  def nearDupAgainst(existing: DataFrame, incoming: DataFrame,
                     threshold: Double, n: Int = 3,
                     existingShingles: Option[DataFrame] = None,
                     incomingShingles: Option[DataFrame] = None): DataFrame = {
    // shingling commutes with per-doc filters, so both sides can be
    // doc_id-filtered slices of one prebuilt layout table
    val ex = existingShingles.getOrElse(shingleRows(existing, n))
      .select(col("doc_id").as("dup_of"), col("n_sh").as("n_e"), col("sh"))
    val in = incomingShingles.getOrElse(shingleRows(incoming, n))
      .select(col("doc_id"), col("n_sh").as("n_i"), col("sh"))
    val jac = col("inter") / (col("n_i") + col("n_e") - col("inter"))
    in.join(ex, Seq("sh"))
      .groupBy(col("doc_id"), col("dup_of"))
      .agg(count(lit(1)).as("inter"), min(col("n_i")).as("n_i"),
        min(col("n_e")).as("n_e"))
      .filter(jac >= threshold)
      .select(col("doc_id"), col("dup_of"), round(jac, 4).as("jaccard"))
      .groupBy(col("doc_id"))
      .agg(max_by(struct(col("jaccard"), (-col("dup_of")).as("neg")),
        struct(col("jaccard"), (-col("dup_of")).as("neg"))).as("best"))
      .select(col("doc_id"), (-col("best.neg")).as("dup_of"),
        col("best.jaccard").as("jaccard"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    * per position, the [[graft.functions.PolyHash]] of the k-token gram
    * starting there (the paper prescribes "any rolling hash"; the
    * base-31 mod-2⁶⁴ polynomial is chosen because an independent engine
    * can replicate it exactly — q53's DuckDB oracle does); for
    * every window of `w` consecutive gram hashes, select the minimum
    * (rightmost on ties); the fingerprint set is the distinct selected
    * (pos, hash) pairs. Guarantees every match of ≥ w+k-1 tokens shares
    * a fingerprint, with expected density 2/(w+1) — the standard
    * plagiarism/near-dup fingerprint family's completion over the
    * single-value [[graft.functions.RollingMinHash]].
    *
    * Pure window plan: one shuffle on doc_id serves the gram leads, the
    * per-window min, and the gram count. Docs with fewer than w grams
    * degrade to a single whole-doc window (standard behavior).
    * Returns (doc_id, pos, h).
    */
  def winnowFingerprints(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, "k and w must be positive")
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val toks = docs.select(col("doc_id"),
      posexplode(split(lower(trim(col("text"))), "\\s+")).as(Seq("pos", "tok")))
    val leads = (1 until k).map(j => lead(col("tok"), j).over(byDoc).as(s"tok$j"))
    val grams = toks
      .select(col("doc_id") +: col("pos") +: col("tok") +: leads: _*)
      .filter(if (k > 1) col(s"tok${k - 1}").isNotNull else lit(true))
      .select(col("doc_id"), col("pos"),
        graft.functions.PolyHash.poly_hash(concat_ws(" ",
          col("tok") +: (1 until k).map(j => col(s"tok$j")): _*)).as("h"))
    val winForward = byDoc.rowsBetween(0, w - 1)
    val whole = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    // rightmost-min tie-break: min of struct(h, -pos) picks the largest
    // pos among equal hashes (struct ordering is lexicographic)
    grams
      .withColumn("n_grams", count(lit(1)).over(whole))
      .withColumn("rn", row_number().over(byDoc))
      .withColumn("sel", min(struct(col("h"), (-col("pos")).as("np"))).over(winForward))
      .filter(col("rn") <= greatest(col("n_grams") - w + 1, lit(1)))
      .select(col("doc_id"), (-col("sel.np")).as("pos"), col("sel.h").as("h"))
      .distinct()
  }

  /** Embedding-cosine near-dup pairs, exact: all (a<b) pairs with
    * cosine ≥ threshold via the native vector ops. O(n²) by definition —
    * the oracle-checkable ground truth; [[embeddingDupPairsLsh]] is the
    * 100 TB path.
    */
  def embeddingDupPairs(emb: DataFrame, threshold: Double): DataFrame = {
    import graft.functions.VectorOps.cosine_sim
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // spread the STREAMED side of the pair join: the n² cosine leg runs
    // at the stream's parallelism and the fixture embeddings scan is one
    // row group → 1 partition. NO broadcast hint on b: unlike the
    // cosineTopK-family sites, b is the FULL embeddings side, not a
    // filtered query subset — a hint would force the planner to collect
    // the whole corpus to the driver and remove its size-based
    // cartesian fallback. Unhinted, the planner broadcasts b only while
    // it is small (exactly the fixture-scale exact-path regime this
    // function is documented for) and falls back to a partitioned
    // cartesian beyond that; [[embeddingDupPairsLsh]] is the scale path.
    val a = graft.model.Tables.spread(
      e.select(col("vec_id").as("vec_a"), col("v").as("va")), col("vec_a"))
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos", cosine_sim(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos"))
  }

  /** Bucket-count dispatch rule for [[embeddingDupPairsLsh]]: 2^planes
    * buckets per table must GROW with the corpus or bucket occupancy —
    * and with it the candidate count, Σ bucket²/2 per table — creeps
    * back toward the exact join's n²/2 (measured: at 20 k vectors the
    * 4-plane geometry LOSES to the exact join, 9.9 s vs 6.4 s, while
    * 8 planes wins — SCALING.md crossover table). planes =
    * ⌊log2(n / targetBucket)⌋ keeps expected occupancy near
    * `targetBucket` regardless of n; the floor of 4 reproduces the
    * fixture-scale geometry exactly (500–2 000 vectors → 4), so the
    * rule is a pure extension upward.
    *
    * Integer arithmetic, not `log`: ⌊log2(n/t)⌋ = ⌊log2(⌊n/t⌋)⌋ for
    * n/t ≥ 1, and bit-length is exact where a double log could carry
    * half-ulp dust at n = t·2^k boundaries — which matters now that
    * the q144 oracle replays this dispatch in SQL. */
  def lshPlanesFor(n: Long, targetBucket: Int = 100): Int = {
    val m = math.max(1L, n) / targetBucket
    val k = if (m < 1L) -1 else 63 - java.lang.Long.numberOfLeadingZeros(m)
    math.max(4, k)
  }

  /** Embedding-cosine near-dup pairs via multi-table sign-LSH buckets:
    * candidates only meet inside a shared (table, bucket), then the
    * exact cosine filter runs per candidate — O(Σ bucket²) instead of
    * O(n²). Recall < 1 by construction (spec measures it vs exact).
    * Size `planes` with [[lshPlanesFor]] when the corpus is not
    * fixture-sized.
    */
  def embeddingDupPairsLsh(emb: DataFrame, threshold: Double, dim: Int,
                           planes: Int = 4, tables: Int = 8): DataFrame = {
    import graft.functions.VectorOps.cosine_sim
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // Candidates carry IDS ONLY: the tables-way explode and the pair
    // dedup shuffle move (long, long) rows, not ~1 KB vector payloads
    // (the payload-carrying form measured 11 s at sf0.1 — a ~12 GB
    // dedup shuffle — vs ~1 s for the id-only plan). Vectors re-attach
    // per side AFTER the dedup, the candidates-then-fetch shape every
    // ANN path here uses (Pq.adcRerankTopK's refine join): at 100 TB
    // the fetch joins touch |candidates| rows of the vec_id-bucketed
    // vector table, never the corpus.
    val buckets = e.select(col("vec_id"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"), Similarity.lshBucket(col("v"), dim, planes, t).as("b"))): _*))
        .as("tb"))
      .select(col("vec_id"), col("tb.t"), col("tb.b"))
    buckets.as("x").join(buckets.as("y"), Seq("t", "b"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
      .join(e.select(col("vec_id").as("vec_a"), col("v").as("va")), Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("v").as("vb")), Seq("vec_b"))
      .withColumn("cos", cosine_sim(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos"))
  }

  /** 64-bit SimHash per document: per-token xxhash64, per-bit ±1 vote,
    * sign → bit. One hash-agg keyed on doc_id; the 64 votes live in a
    * single [[graft.functions.SimHashAgg]] buffer updated in one tight
    * loop per row (the round-1 form — 64 separate sum-when aggregates —
    * was the bench's slowest query; see SimHashAgg's Scaladoc).
    */
  def simHash(docs: DataFrame): DataFrame = {
    import graft.functions.SimHashAgg.simhash_agg
    // spread: tokenize + per-token xxhash64 + the vote-buffer partial
    // aggregation all run before the doc_id shuffle (q274 rationale)
    val toks = graft.model.Tables.spread(docs, col("doc_id"))
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    toks.groupBy(col("doc_id"))
      .agg(simhash_agg(col("h")).as("simhash"))
  }

  /** Round-1 wide-aggregate SimHash (64 generated sum-aggregates) — kept
    * as the parity reference for [[simHash]]; TextSpec pins
    * simHash == simHashWide on fixtures.
    */
  private[graft] def simHashWide(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    val bitVotes = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"b$b")
    }
    val assemble = (0 until 64)
      .map(b => when(col(s"b$b") > 0, lit(1L << b)).otherwise(0L))
      .reduce(_.bitwiseOR(_))
    toks.groupBy(col("doc_id"))
      .agg(bitVotes.head, bitVotes.tail: _*)
      .select(col("doc_id"), assemble.as("simhash"))
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming (≤ 3):
    * pigeonhole-banded join — split the 64-bit hash into 4 16-bit
    * chunks; any pair within hamming 3 shares at least one chunk, so
    * the join on (chunk_idx, chunk_val) finds all of them without a
    * cross join (the scale path; a cross join would be O(n²)).
    */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-chunk pigeonhole covers hamming <= 3")
    val sh = simHash(docs)
    val chunks = sh.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("chunk_idx"),
          shiftright(col("simhash"), i * 16).bitwiseAND(0xFFFFL).as("chunk_val"))): _*))
        .as("c"))
      .select(col("doc_id"), col("simhash"), col("c.chunk_idx"), col("c.chunk_val"))
    chunks.as("x").join(chunks.as("y"), Seq("chunk_idx", "chunk_val"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
