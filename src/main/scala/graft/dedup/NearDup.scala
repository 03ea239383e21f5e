package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{TextKernels, VectorKernels}
import graft.util.Exprs.mix64

/** Deduplication for LLM training corpora (SURVEY.md §7.6; BASELINE.json
  * north star): exact, MinHash+LSH near-dup, SimHash, n-gram Jaccard.
  *
  * Scale shape: signatures are per-row column expressions (one projection,
  * no shuffle); LSH banding turns the all-pairs problem into a key-join on
  * (band, band-signature) — the only shuffles are the bucket join and the
  * final pair dedup, both linear in candidates, never O(n²) over the corpus.
  */
object NearDup {

  /** Normalized text: lowercase, whitespace collapsed. */
  def normalize(c: Column): Column =
    regexp_replace(trim(lower(c)), "\\s+", " ")

  /** Exact-dup key: md5 of normalized text (same as
    * [[graft.text.TextAnalysis.fingerprint]]). */
  def exactKey(c: Column): Column = md5(normalize(c).cast(BinaryType))

  /** Exact dedup by content key, keeping the smallest id per group —
    * deterministic, unlike dropDuplicates on a subset. One hash shuffle. */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(exactKey(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** Distinct character k-shingles of the normalized text (empty array
    * when the text is shorter than k; first-occurrence order, matching
    * array_distinct).
    *
    * Normalization stays an EXPRESSION (exact regex parity with the
    * DuckDB oracles); the window/dedup step is the
    * [[graft.functions.ShingleSet]] codegen kernel — a tight loop over
    * the code-point array (code points, not chars: String.substring
    * counts UTF-16 units and would diverge from Spark's substr on
    * astral input). The kernel history: declarative
    * transform(sequence…)+substr+array_distinct ran the per-element
    * lambda interpreted (~600 µs per ~300-char row; 6.5 s → ~2 s on
    * q_ngram_jaccard at sf0.1 as a Scala UDF); the r15 expression form
    * drops the UDF's converter boxing and keeps the projection in one
    * WholeStageCodegen span, bit-identical output. */
  def shingles(c: Column, k: Int = 5): Column =
    TextKernels.shingles(normalize(c), k)

  /** Exact Jaccard similarity of two shingle SETS (inputs must be
    * distinct arrays — every producer here applies array_distinct).
    * Uses |a ∪ b| = |a| + |b| − |a ∩ b| with the intersection size bound
    * ONCE as a lambda variable: the naive
    * `intersect / union` form evaluates array_union twice (the `when`
    * guard plus the denominator — conditional branches are exempt from
    * codegen subexpression elimination) and array_intersect once, three
    * O(|a|+|b|) hash-set passes per pair where one suffices. Measured
    * 7.7 s → ~2 s on q_ngram_jaccard at sf0.1. */
  def jaccard(a: Column, b: Column): Column =
    element_at(transform(array(size(array_intersect(a, b))), i => {
      val uni = size(a) + size(b) - i
      when(uni > 0, i.cast(DoubleType) / uni)
    }), 1)

  /** MinHash signature positions from a pre-hashed shingle array. Hash
    * family i is xxhash64(shingleHash, i) — the shingle string is hashed
    * once, then each family member hashes the fixed-width (long, int)
    * pair: cheap, overflow-free (ANSI-safe: an affine a·h+b permutation
    * would throw ARITHMETIC_OVERFLOW under Spark 4's default ANSI mode),
    * and deterministic across runs and executors.
    *
    * IMPORTANT staging note: callers must materialize the shingle-hash
    * array in its OWN projection (see [[withMinhashSignature]]) — inlining
    * `shingles(c)` here would duplicate the whole shingle subtree into all
    * numHashes branches: 64× the work and a generated method too large to
    * JIT. CollapseProject keeps a multiply-referenced non-trivial alias in
    * its own stage, which is exactly what we exploit. */
  def minhashFromHashes(hashes: Column, numHashes: Int): Column =
    array((0 until numHashes).map { i =>
      array_min(transform(hashes, h => xxhash64(h, lit(i))))
    }: _*)

  /** df + `sigCol` (array of numHashes minima) + `shCol` (distinct shingle
    * set), staged as: shingles → hashes → signature, one projection each. */
  def withMinhashSignature(df: DataFrame, textCol: String,
      sigCol: String, shCol: String,
      numHashes: Int = 64, k: Int = 5): DataFrame =
    df.withColumn(shCol, shingles(col(textCol), k))
      .withColumn("__mh_hashes", transform(col(shCol), s => xxhash64(s)))
      .withColumn(sigCol, minhashFromHashes(col("__mh_hashes"), numHashes))
      .drop("__mh_hashes")

  /** FNV-1a 64 over UTF-8 bytes + splitmix64 finalize: a well-mixed,
    * deterministic 64-bit string hash with no Spark-internal dependency. */
  private def hashString(s: String): Long = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= bytes(i) & 0xffL; h *= 0x100000001b3L; i += 1 }
    mix64(h)
  }

  /** One-permutation-hashing signatures (Li/Owen/Zhang 2012 shape): each
    * shingle is hashed ONCE, bucketed by hash mod numHashes, min per
    * bucket. Empty buckets are densified by ROTATION (Shrivastava/Li 2014,
    * "Improved Densification of One Permutation Hashing"): an empty bucket
    * copies the next non-empty bucket to its right, circularly. Rotation —
    * not the doc's overall min — is what keeps recall on SHORT docs: with
    * few grams most buckets are empty, and min-densification makes the
    * whole signature flip whenever an edit removes the overall-min gram
    * (measured: 7 of 500 planted pairs at J≥0.9 missed at sf0.01).
    * Rotation-filled buckets only change where the removed gram was the
    * sole occupant, so signature agreement degrades gracefully with edit
    * size. Cost: short docs emit a few more (band-equal) false candidates;
    * the exact-Jaccard verification step removes them.
    *
    * Output: `__id`, `__sig` (numHashes minima), `__sh` — the doc's
    * DISTINCT word-n-gram hash set (sorted longs), for downstream exact-
    * Jaccard verification. Jaccard over 64-bit gram hashes equals Jaccard
    * over the gram strings up to hash collisions (~|sh|²/2⁶⁴ per doc pair
    * — vanishing), and long-array set ops are far cheaper than string ops.
    *
    * Everything — tokenize, gram hashing, bucketing — happens in ONE
    * tight Scala UDF pass per row: no gram strings are ever materialized
    * (a gram's hash is folded from its word hashes), one projection, zero
    * shuffle. Measured at sf0.1 (10k docs × ~52 shingles) against the
    * declarative formulations: explode → groupBy(doc,bucket) → re-agg pays
    * two exchanges plus a join-back (~7s); building gram strings with
    * higher-order functions runs interpreted (~11s); this UDF is ~0.3s.
    * A deliberate exception to the functions-over-UDFs rule: the fused
    * loop is not expressible as one array pass in the expression language,
    * and nothing downstream needs codegen visibility into signature
    * internals. Docs shorter than the gram width are dropped (no grams).
    */
  def ophSignatures(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int, k: Int): DataFrame = {
    // r21: the signature pass is the pipeline's CPU bound and inherits the
    // scan's split count — on a small corpus that leaves most cores idle
    // (measured: 6 tasks on 32 cores at sf0.1). Size-gated, so a corpus
    // big enough to split per-core never pays the extra shuffle.
    val input = graft.util.Parallelize.bySize(df, idCol)
    val n = k // word-gram width
    val sigUdf = udf { text: String =>
      if (text == null) None
      else {
        val words = text.toLowerCase(java.util.Locale.ROOT).trim.split("\\s+")
        if (words.length < n) None
        else {
          val wh = new Array[Long](words.length)
          var i = 0
          while (i < words.length) { wh(i) = hashString(words(i)); i += 1 }
          // distinct gram hashes: fold word hashes in order (order-sensitive)
          val grams = new java.util.TreeSet[java.lang.Long]()
          i = 0
          while (i <= words.length - n) {
            var g = 1125899906842597L
            var j = 0
            while (j < n) { g = mix64(g ^ wh(i + j)); j += 1 }
            grams.add(g); i += 1
          }
          val sig = Array.fill(numHashes)(Long.MaxValue)
          val it = grams.iterator()
          while (it.hasNext) {
            val h = it.next().longValue()
            val b = (((h % numHashes) + numHashes) % numHashes).toInt
            if (h < sig(b)) sig(b) = h
          }
          // rotation densification: empty bucket <- next non-empty to the
          // right (circular); grams is non-empty so at least one bucket is
          // occupied and the scan below terminates
          i = 0
          while (i < numHashes) {
            if (sig(i) == Long.MaxValue) {
              var j = (i + 1) % numHashes
              while (sig(j) == Long.MaxValue) j = (j + 1) % numHashes
              sig(i) = sig(j)
            }
            i += 1
          }
          val sh = new Array[Long](grams.size)
          val it2 = grams.iterator()
          i = 0
          while (it2.hasNext) { sh(i) = it2.next().longValue(); i += 1 }
          Some((sig, sh))
        }
      }
    }
    // asNondeterministic (r21, guide-§4.4 class of bug): the UDF is pure,
    // but left deterministic the optimizer pushed the isNotNull filter
    // below this projection as isnotnull(UDF(text)) — into the SCAN's
    // data filters — so every doc paid the whole signature pass TWICE
    // (and the pushed copy ran below the repartition, at scan width).
    // The marker pins the filter above the projection: one eval per row.
    input.select(col(idCol).as("__id"),
        sigUdf.asNondeterministic()(col(textCol)).as("__s"))
      .where(col("__s").isNotNull)
      .select(col("__id"), col("__s._1").as("__sig"), col("__s._2").as("__sh"))
  }

  /** MinHash-LSH candidate pairs with exact-Jaccard verification.
    * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    *
    * banding: signature split into `bands` rows of `numHashes/bands`; any
    * equal band → candidate. Bucket join shuffles candidates only; the
    * exact verification joins the two shingle sets back by id (broadcast
    * when small, hash join at scale).
    *
    * @param maxBucket LSH skew guard, the one remaining way this
    *   pipeline could go quadratic at corpus scale: a boilerplate
    *   document with millions of copies puts every copy in the SAME
    *   band-bucket, and the all-pairs candidate join inside that bucket
    *   is O(copies²). Buckets larger than `maxBucket` switch to
    *   star-shaped candidates — bucket-min ↔ member, O(copies) — see
    *   [[bucketCandidates]] for the exact recall trade-off. Default 0 =
    *   AUTO ([[autoMaxBucket]] from the corpus row count): a caller at
    *   100 TB no longer has to remember the guard to avoid the quadratic
    *   path. Pass Int.MaxValue to disable (exact all-pairs, zero guard
    *   cost), or an explicit bound to override the heuristic.
    * @param pairFilter applied to the deduped candidate list (columns
    *   id_a, id_b) BEFORE the signature prefilter and exact verify —
    *   the hook [[dedupAgainst]] uses to discard same-corpus candidates
    *   so only cross-corpus pairs pay verification cost. Must be a pure
    *   row filter (no joins back into the corpus).
    * @param bucketBatches peak-scratch bound (r19 verdict #4, design
    *   revised in r20 after measurement): >1 splits the LSH BUCKET
    *   KEYSPACE into that many hash-slices — every slice covers all
    *   bands but only buckets with hash(bucket) ≡ i (mod batches) —
    *   and runs candidate-join → prefilter → verify per slice, locally
    *   checkpointing each slice's verified pairs to DISK before the
    *   next slice's shuffles start (the checkpoint TRUNCATES lineage,
    *   so the slice's shuffle files become unreachable and the context
    *   cleaner deletes them; a GC nudge makes that prompt). Candidate
    *   mass per slice is ~1/batches UNIFORMLY — including on
    *   duplicate-saturated corpora, where a near-dup group's bands
    *   land in `bands` DIFFERENT buckets that hash across slices. Each
    *   slice anti-joins prior slices' outputs before verify, so every
    *   pair is verified and stored exactly once and the slice outputs
    *   union disjointly (no final distinct). The r19-asked BAND
    *   batching was built and measured first: on the ×100
    *   verbatim-replica corpus every near-dup pair collides in EVERY
    *   band, so each band-group re-derived the full pair mass —
    *   peak scratch went UP (30.7 → 44.7 GB) and wall-clock 441 →
    *   600 s. Bucket-hash slicing is the form that actually bounds the
    *   duplicate-density spike (measured in BASELINE.md). Result
    *   parity with the single-pass plan is spec-pinned
    *   (BandBatchSpec). Default 1 = the single-pass plan. */
  def minhashPairs(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 64, bands: Int = 16, k: Int = 3,
      threshold: Double = 0.7, maxBucket: Int = 0,
      pairFilter: DataFrame => DataFrame = identity,
      bucketBatches: Int = 1): DataFrame = {
    require(numHashes % bands == 0)
    require(bucketBatches >= 1 && bucketBatches <= 4096,
      s"bucketBatches must be in [1, 4096], got $bucketBatches")
    val r = numHashes / bands
    // ONE corpus pass: sigAll — (id, signature, gram set) — persists to
    // DISK, so every downstream branch (banding, verify) reads the store
    // instead of re-running the ophSignatures UDF (re-tokenize + re-hash
    // the whole corpus; the stored rows are ~5× smaller than the text).
    // DISK not memory: pinning an O(corpus) array store in executor
    // memory for the session would be the one scale-killer here (same
    // staging as [[embeddingPairs]]). Cached batches are COLUMNAR, so the
    // banding scan below deserializes only the __sig bytes even though
    // the store holds the gram sets too.
    val sigAll = ophSignatures(df, textCol, idCol, numHashes, k)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    // resolving the auto guard counts sigAll — which just materializes
    // the DISK_ONLY store every downstream branch reads anyway
    val mb = if (maxBucket > 0) maxBucket
             else autoResolvedBucket(sigAll.count())
    def bucketsFor(bandIdxs: Seq[Int]): DataFrame =
      sigAll.select(col("__id"),
        explode(array(bandIdxs.map(b =>
          struct(lit(b).as("band"), slice(col("__sig"), b * r + 1, r).as("bits"))): _*))
          .as("__bucket"))
    // candidate-join → prefilter → exact verify over one bucket subset —
    // the whole pipeline downstream of banding, shared verbatim by the
    // single-pass and batched paths so their results cannot drift.
    // `minus` (batched path): already-verified pairs from prior slices,
    // anti-joined out BEFORE the prefilter so a pair colliding in
    // buckets of several slices pays verification exactly once.
    def verifiedPairs(buckets: DataFrame,
        minus: Option[DataFrame] = None): (DataFrame, Seq[DataFrame]) = {
      // a pair can collide in many bands — dedup BEFORE any similarity work
      val (pairsAll, staged) =
        bucketCandidates(buckets, Seq("__bucket"), Nil, mb)(identity)
      val pairs = minus.foldLeft(pairFilter(pairsAll))((p, m) =>
        p.join(m.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_anti"))
      // r22: ONE join per pair side brings the signature AND the gram set
      // together (until r21 this was FOUR joins — sig-only joins for the
      // prefilter, then a second pair of joins back for the survivors'
      // gram sets — plus a dedicated in-memory (id, sig) cache). The
      // two-phase shape saved no gram-set I/O: the verify join scans the
      // WHOLE columnar store on both sides regardless of survivor count,
      // so splitting the join only added two joins, two broadcast builds,
      // one more cache to pin, and ~20 codegen units (the dedup family's
      // cold floors were compile-and-scheduling-bound — r22 StageProbe:
      // 45 codegen units / 1.8 s compile, 22 jobs, stages ≤ 0.5 s).
      // Evaluation ORDER is unchanged: the signature-agreement prefilter
      // (64 long compares, estimator std at 64 samples ≈ 0.06, 0.15
      // margin keeps true borderline pairs) runs as a Filter BELOW the
      // jaccard projection, so a pruned pair still pays 64 compares and
      // never the gram-set merge.
      val out = pairs
        .join(sigAll.select(col("__id").as("id_a"), col("__sig").as("sig_a"),
          col("__sh").as("sh_a")), "id_a")
        .join(sigAll.select(col("__id").as("id_b"), col("__sig").as("sig_b"),
          col("__sh").as("sh_b")), "id_b")
        // graft_sig_agree (functions/SignatureAgreement, r14): codegen twin
        // of prefilterUdf — no per-pair Seq boxing on the candidate mass
        .where(VectorKernels.sigAgree(col("sig_a"), col("sig_b"),
          numHashes, threshold - 0.15))
        .select(col("id_a"), col("id_b"),
          // graft_sorted_jaccard (functions/SortedJaccard, r14): a merge
          // over the two SORTED gram-hash arrays (ophSignatures emits
          // TreeSet order), O(|A|+|B|) with no allocation, in place
          VectorKernels.sortedJaccard(col("sh_a"), col("sh_b"), threshold)
            .as("jaccard"))
        .where(col("jaccard").isNotNull)
      (out, staged)
    }
    if (bucketBatches == 1) {
      val (out, staged) = verifiedPairs(bucketsFor(0 until bands))
      // Eager materialization + release: the pair list (tiny — candidates
      // that survived LSH + verify) is computed NOW, then the O(corpus)
      // signature/gram stores are dropped. Without this, every call pinned
      // corpus-sized storage for the rest of the session (r8 VERDICT "cache
      // hygiene"). The RETURNED frame stays cached — the caller unpersists
      // it once consumed (Bench/Verify sweep new persists per query via
      // [[graft.util.CacheHygiene]]).
      materializeAndRelease(out, Seq(sigAll) ++ staged)
    } else {
      runBatchedPairs(bucketsFor(0 until bands), xxhash64(col("__bucket")),
        bucketBatches, verifiedPairs, Seq(sigAll))
    }
  }

  /** The staged-batch driver shared by [[minhashPairs]] and
    * [[embeddingPairs]] (r19 verdict #4, bucket-hash form — see the
    * `bucketBatches` param doc on minhashPairs for why band grouping
    * was measured and rejected): process one bucket-keyspace
    * hash-slice at a time; each slice's verified pairs localCheckpoint
    * to DISK (truncating lineage so the slice's candidate/prefilter
    * shuffle files become collectable) before the next slice's
    * shuffles start. Peak shuffle scratch ≈ one slice's (~1/batches of
    * the single-pass candidate mass) + the accumulated (much narrower)
    * pair store. `verify(slice, minus)` is the operator's own
    * candidate→verify pipeline; `minus` carries prior slices' outputs
    * for the anti-join that makes slice outputs disjoint. */
  private def runBatchedPairs(buckets: DataFrame, sliceHash: Column,
      batches: Int,
      verify: (DataFrame, Option[DataFrame]) => (DataFrame, Seq[DataFrame]),
      alsoRelease: Seq[DataFrame]): DataFrame = {
    val sc = buckets.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    var acc: Option[DataFrame] = None
    val batchDfs = (0 until batches).map { i =>
      val slice = buckets.where(pmod(sliceHash, lit(batches)) === i)
      val (out, staged) = verify(slice, acc)
      val ck = out.localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
      staged.foreach(_.unpersist(false))
      // the context cleaner deletes a slice's shuffle files only after
      // its ShuffleDependency objects are GC'd — nudge now so the
      // deletion overlaps the NEXT slice's compute instead of piling
      // every slice's scratch to the end
      System.gc()
      acc = Some(acc.map(_.unionAll(ck)).getOrElse(ck))
      ck
    }
    val batchIds = sc.getPersistentRDDs.keySet -- before
    // slice outputs are DISJOINT by the anti-join — plain union, no
    // cross-batch distinct shuffle needed (parity spec-pinned)
    val cached = batchDfs.reduce(_ unionAll _).cache()
    try { cached.count(); cached }
    catch { case e: Throwable => cached.unpersist(false); throw e }
    finally {
      sc.getPersistentRDDs
        .filter { case (id, _) => batchIds(id) }
        .values.foreach(_.unpersist(false))
      alsoRelease.foreach(_.unpersist(false))
    }
  }

  /** Hyperplane-count default when [[embeddingPairs]] is called with
    * `planes = 0`: bits-per-band sized so the expected bucket holds ~64
    * vectors — bits = max(8, ceil(log2(n/64))), capped at 64/bands
    * because the signature is ONE long. At the driver scales (≤ ~16k
    * rows) this resolves to the historical 8 bits (32 planes at 4
    * bands) — auto changes nothing there; at 200k rows it resolves to
    * 12 bits (4096 buckets/band) and keeps within-bucket candidate
    * mass ~n·32 per band instead of ~n²/512. Recall on true near-dup
    * pairs falls gently with bits (cos 0.99 at 12-bit bands ≈ 0.96
    * over 4 bands); exact duplicates always collide in every band. */
  private[graft] def autoPlanes(n: Long, bands: Int): Int = {
    val bits = math.max(8, math.ceil(
      math.log(math.max(1.0, n / 64.0)) / math.log(2.0)).toInt)
    bands * math.min(bits, 64 / bands)
  }

  /** Skew-guard default when the caller passes `maxBucket = 0`: buckets
    * beyond max(4096, min(65536, n/64)) members go star-shaped. The floor
    * keeps the guard out of the way of any legitimate near-dup family at
    * small corpus sizes; the ceiling says that at ANY corpus size a
    * bucket with >65536 members is mass duplication (no real near-dup
    * family has 65 k members) and caps the worst single-bucket all-pairs
    * cost the engine will ever attempt. */
  private[graft] def autoMaxBucket(n: Long): Int =
    math.max(4096L, math.min(1L << 16, n / 64)).toInt

  /** The auto guard, short-circuited when it cannot fire: a corpus of n
    * rows cannot fill any bucket past n, so when n ≤ the auto bound the
    * guarded plan (flag agg + left join) is pure overhead and the exact
    * unguarded all-pairs path runs instead. */
  private def autoResolvedBucket(n: Long): Int = {
    val mb = autoMaxBucket(n)
    if (n <= mb) Int.MaxValue else mb
  }

  /** Eagerly materializes `out` (cached), then releases the operator's
    * corpus-sized `intermediates` — ALWAYS, including when a job inside
    * the materialization throws (an executor failure or a loud internal
    * invariant must not pin the DISK_ONLY stores for the session). On
    * failure the result cache is dropped too and the error propagates. */
  private def materializeAndRelease(out: DataFrame,
      intermediates: Seq[DataFrame]): DataFrame = {
    val cached = out.cache()
    try { cached.count(); cached }
    catch { case e: Throwable => cached.unpersist(false); throw e }
    finally intermediates.foreach(_.unpersist(false))
  }

  /** Candidate pairs from an LSH bucket list — the shared core of
    * [[minhashPairs]] and [[embeddingPairs]].
    *
    * `buckets` carries `__id`, the `keyCols` bucket key, and any `carry`
    * columns a candidate filter needs on both sides (suffixed `_a`/`_b`).
    * Normal buckets emit exact all-pairs (`id_a < id_b`) through
    * `candFilter`; when `maxBucket` is set, oversized buckets emit
    * star candidates (bucket-min ↔ member) instead — linear in bucket
    * size, UNfiltered (the caller's exact verify still gates them).
    *
    * Star recall trade-off, stated precisely: two members of an
    * oversized bucket pair up (directly or transitively in [[clusters]])
    * only through members within threshold of the bucket CENTER. A
    * mass-duplicate family (the case the guard exists for) satisfies
    * that by construction; a drift chain whose fringe members score
    * below threshold against the center loses its fringe links if NO
    * normal-sized bucket elsewhere catches them. Size `maxBucket` well
    * above any legitimate family (~10⁴) so the guard only fires where
    * the alternative is a quadratic blow-up.
    *
    * Returns the pair frame plus the staged flag frame(s) the caller must
    * release after its result materializes (the
    * [[materializeAndRelease]] intermediates list). The flag frame is
    * counted while staged and only BROADCAST under
    * [[MaxFlagBroadcastRows]] — on a corpus where very many buckets sit
    * just over `maxBucket`, an unconditional broadcast would itself be
    * the driver/executor OOM; above the bound the join degrades to a
    * plain shuffle join on the bucket key, which is always safe. */
  private[graft] def bucketCandidates(buckets: DataFrame, keyCols: Seq[String],
      carry: Seq[String], maxBucket: Int,
      maxFlagBroadcast: Long = MaxFlagBroadcastRows)(
      candFilter: DataFrame => DataFrame): (DataFrame, Seq[DataFrame]) = {
    require(maxBucket > 1, "a star needs a center and at least one member")
    def side(df: DataFrame, suf: String) =
      df.select(keyCols.map(c => col(c).as(s"$c$suf")) ++
        (col("__id").as(s"id$suf") +: carry.map(c => col(c).as(s"$c$suf"))): _*)
    def allPairs(df: DataFrame) = {
      val joined = side(df, "_a").join(side(df, "_b"),
        keyCols.map(c => col(s"${c}_a") === col(s"${c}_b")).reduce(_ && _) &&
          col("id_a") < col("id_b"))
      candFilter(joined).select("id_a", "id_b")
    }
    if (maxBucket == Int.MaxValue) (allPairs(buckets).distinct(), Nil)
    else {
      // oversized buckets are normally FEW (each a mass-duplicate
      // family); the flag frame is staged + counted so the broadcast
      // decision is based on its actual size, and the count's agg pass is
      // not re-run when the join consumes the staged copy
      val big = buckets.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__n"), min(col("__id")).as("__min"))
        .where(col("__n") > maxBucket)
        .select(keyCols.map(c => col(c).as(s"${c}__g")) :+ col("__min"): _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bigSide = if (big.count() <= maxFlagBroadcast) broadcast(big)
                    else big
      val flagged = buckets.join(bigSide,
        keyCols.map(c => col(c) === col(s"${c}__g")).reduce(_ && _), "left")
      val normal = allPairs(flagged.where(col("__min").isNull))
      val star = flagged.where(col("__min").isNotNull &&
          col("__id") =!= col("__min"))
        .select(col("__min").as("id_a"), col("__id").as("id_b"))
      (normal.unionAll(star).distinct(), Seq(big))
    }
  }

  /** Flag-frame rows above which the skew guard stops broadcasting and
    * shuffle-joins instead: 1 M (key + min-id) rows ≈ tens of MB — the
    * README invariant that every broadcast is cardinality-guarded holds
    * for the guard's own build side too. */
  private[graft] val MaxFlagBroadcastRows = 1000000L

  /** Signature-agreement prefilter for [[minhashPairs]]: true when the
    * estimated Jaccard (fraction of agreeing signature positions) is at
    * least `threshold − 0.15`. Fails loudly (with the formatted message,
    * including the null case) on malformed signatures — an internal
    * invariant, not data-dependent. */
  /** Superseded on the hot path by `graft_sig_agree` (r14); kept as the
    * boxed reference implementation VectorKernelsSpec compares against. */
  private[graft] def prefilterUdf(numHashes: Int, threshold: Double) =
    udf { (sigA: Seq[Long], sigB: Seq[Long]) =>
      require(sigA != null && sigB != null &&
        sigA.length >= numHashes && sigB.length >= numHashes,
        s"signature null or shorter than numHashes=$numHashes: " +
          s"${if (sigA == null) "null" else sigA.length.toString}/" +
          s"${if (sigB == null) "null" else sigB.length.toString}")
      var agree = 0
      var i = 0
      while (i < numHashes) { if (sigA(i) == sigB(i)) agree += 1; i += 1 }
      agree.toDouble / numHashes >= threshold - 0.15
    }

  /** Exact Jaccard for [[minhashPairs]] survivors: the merge-intersection
    * of two SORTED (signed ascending) distinct gram-hash arrays, which
    * [[ophSignatures]] guarantees. Returns the Jaccard when ≥ threshold,
    * else null. Sets are distinct, so |A∪B| = |A|+|B|−|A∩B|. */
  /** Superseded on the hot path by `graft_sorted_jaccard` (r14); kept as
    * the boxed reference implementation for the spec. */
  private[graft] def exactJaccardUdf(threshold: Double) =
    udf { (shA: Seq[Long], shB: Seq[Long]) =>
      var a = 0; var b = 0; var inter = 0
      val la = shA.length; val lb = shB.length
      while (a < la && b < lb) {
        val x = shA(a); val y = shB(b)
        if (x == y) { inter += 1; a += 1; b += 1 }
        else if (x < y) a += 1
        else b += 1
      }
      val union = la + lb - inter
      if (union == 0) None
      else {
        val j = inter.toDouble / union
        if (j >= threshold) Some(j) else None
      }
    }

  /** Partial-overlap candidate pairs via winnowing (MOSS) fingerprints —
    * the containment counterpart of [[minhashPairs]]. Whole-document
    * MinHash scores a doc CONTAINED in a larger one at
    * |small| / |large| Jaccard, which sits under any useful threshold as
    * the size ratio grows — so copied sections, quoted passages, and
    * prefix/suffix containment are structurally invisible to it.
    * Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003 §4,
    * [[graft.text.TextAnalysis.winnowingFingerprint]]) are LOCAL: any
    * shared substring of length ≥ w+k-1 contributes at least one common
    * fingerprint value, so docs sharing ≥ `minShared` fingerprints are
    * partial-overlap candidates regardless of their size ratio.
    *
    * Output: (id_a, id_b, n_shared, overlap) with id_a < id_b;
    * `overlap` = n_shared / min(pairable fingerprints of either side) —
    * a containment score: ~1.0 when the smaller doc's fingerprint set is
    * fully contained in the larger's.
    *
    * Scale shape: the fingerprint kernel is one projection (no shuffle).
    * Pairing is a self-join keyed on fingerprint VALUE — the winnowing
    * analogue of the LSH band join — so candidates only come from shared
    * keys, never a cross join. Skew guard: fingerprints present in more
    * than `maxDocFreq` documents are boilerplate (navigation chrome,
    * license headers — the mass-duplication analogue of
    * [[minhashPairs]]'s oversized buckets) and are dropped BEFORE the
    * join, bounding per-key fan-out at maxDocFreq² pairs; the
    * doc-frequency count is a window over the same shuffle the join
    * reuses (fingerprints are per-doc DISTINCT by construction, so rows
    * per key = doc frequency). The `overlap` denominators count PAIRABLE
    * (df-filtered) fingerprints, so a doc that is mostly boilerplate is
    * scored on the part of it that can still match. Per-doc counts are
    * a map-side-combined aggregate joined onto the (tiny) pair list,
    * NOT a second corpus-wide window shuffle. */
  def winnowPairs(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5, w: Int = 4, minShared: Int = 3,
      maxDocFreq: Int = 20): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxDocFreq >= 2, s"maxDocFreq must be >= 2, got $maxDocFreq")
    // kernel output staged once; the df-filter window + (via `kept`) the
    // join sides and the count aggregate all read the store instead of
    // re-running the per-row winnowing kernel
    // r21: the per-row winnowing kernel inherits the scan's split count —
    // size-gated repartition keeps all cores busy on small corpora
    // (no-op whenever the scan splits per-core; see Parallelize).
    val fps = graft.util.Parallelize.bySize(df, idCol)
      .select(col(idCol).cast(LongType).as("__id"),
        explode(graft.text.TextAnalysis
          .winnowingFingerprint(col(textCol), k, w)).as("__fp"))
      .persist()
    val fpW = org.apache.spark.sql.expressions.Window.partitionBy("__fp")
    // df == 1 cannot pair; df > maxDocFreq is the boilerplate guard
    val kept = fps
      .withColumn("__df", count(lit(1)).over(fpW))
      .where(col("__df").between(2, maxDocFreq))
      .select("__id", "__fp")
      .persist()
    // the cached `kept` is hash-partitioned by __fp (the window's
    // shuffle), so the self-join below reuses that partitioning
    val pairs = kept.select(col("__fp"), col("__id").as("id_a"))
      .join(kept.select(col("__fp"), col("__id").as("id_b")), "__fp")
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
    val counts = kept.groupBy("__id").agg(count(lit(1)).as("__n"))
    val out = pairs
      .join(counts.select(col("__id").as("id_a"), col("__n").as("__na")), "id_a")
      .join(counts.select(col("__id").as("id_b"), col("__n").as("__nb")), "id_b")
      .select(col("id_a"), col("id_b"), col("n_shared"),
        round(col("n_shared") / least(col("__na"), col("__nb")), 6)
          .as("overlap"))
    materializeAndRelease(out, Seq(kept, fps))
  }

  /** Incremental (cross-corpus) near-dedup: drop from `newDf` every
    * document whose word-k-gram Jaccard against ANY `refDf` document
    * reaches `threshold` — the crawl-refresh primitive (dedup the new
    * batch against the corpus already trained on) that within-corpus
    * [[minhashPairs]] does not express. Returns `newDf` rows that
    * survive, schema unchanged.
    *
    * Mechanics: both sides flow through the ONE LSH pipeline on a parity
    * id remap (ref id → 2·id, new id → 2·id+1 — ids must be non-negative
    * numerics below 2⁶², which every driver table satisfies; garbage ids
    * are dropped by the same tryLong gate as [[clusters]]), and a
    * `pairFilter` discards same-parity candidates BEFORE the signature
    * prefilter and exact verify — within-ref and within-new duplicate
    * mass (the bulk of candidates on a crawl refresh, since the ref
    * corpus dwarfs the batch) never pays verification. Cross pairs have
    * an odd id sum, a pure row predicate. The surviving pair list is
    * tiny (≤ one row per dropped new doc after the distinct), and the
    * final step is a broadcast-friendly left-anti join on the remapped
    * new-side id. Within-NEW duplicates are deliberately KEPT (dedup the
    * batch against itself with [[minhashPairs]]/[[clusters]] first if
    * wanted — separable concerns, and a refresh pipeline usually runs
    * both). */
  def dedupAgainst(newDf: DataFrame, refDf: DataFrame, textCol: String,
      idCol: String, numHashes: Int = 64, bands: Int = 16, k: Int = 3,
      threshold: Double = 0.7, maxBucket: Int = 0): DataFrame = {
    def idAsLong(df: DataFrame): Column = df.schema(idCol).dataType match {
      case LongType => col(idCol)
      case _: NumericType => col(idCol).cast(LongType)
      case _ => graft.util.Exprs.tryLong(col(idCol))
    }
    def remap(df: DataFrame, parity: Int): DataFrame =
      df.select((idAsLong(df) * 2 + parity).as("__xid"),
          col(textCol).as("__xtext"))
        .where(col("__xid").isNotNull)
    val u = remap(refDf, 0).unionAll(remap(newDf, 1))
    val cross = minhashPairs(u, "__xtext", "__xid", numHashes, bands, k,
      threshold, maxBucket,
      // cross-corpus pairs have exactly one odd id: odd sum
      pairFilter = _.where(pmod(col("id_a") + col("id_b"), lit(2)) === 1))
    // the new-side member of each cross pair, mapped back to caller ids
    val dropIds = cross
      .select(when(col("id_a") % 2 === 1, col("id_a"))
        .otherwise(col("id_b")).as("__xid"))
      .distinct()
      // (odd xid − 1) / 2 as a shift: exact for the full long id range
      // (a double division would lose precision past 2^53)
      .select(shiftright(col("__xid"), 1).as("__drop_id"))
    val survivors = newDf.join(dropIds,
      idAsLong(newDf) === col("__drop_id"), "left_anti")
    // the pair list was materialized by minhashPairs (cached); the anti
    // join reads it through dropIds, so keep the cache — the caller's
    // hygiene sweep (Bench/Verify) or session end releases it, same
    // contract as the pair operators.
    survivors
  }

  /** Edge bound under which [[clusters]] resolves on the driver: 2^21
    * (id_a, id_b) longs ≈ 32 MB collected — the pair list is the SMALL
    * output of the pair operators (already driver-safe to count), and a
    * union-find over it beats log-diameter rounds of distributed joins
    * by an order of magnitude in wall-clock. Above the bound the
    * distributed propagation runs unchanged. */
  private[graft] val MaxDriverEdges = 1L << 21

  /** Connected components over a near-dup pair list — the resolution step
    * between "similar pairs" and "which copies to drop": every paired id
    * maps to the SMALLEST id reachable through the pair graph (the
    * canonical representative a dedup keeps; survivors = rows where
    * `id == cluster`, joined back to the corpus). Transitivity matters:
    * pairs (a,b),(b,c) must land a, b, c in ONE cluster even when (a,c)
    * itself scored under the threshold.
    *
    * Pair lists up to [[MaxDriverEdges]] resolve as a DRIVER union-find
    * (path-halving + min-root union — the same guarded-driver-path
    * pattern as the fuzzy dictionary): near-dup pair lists are tiny
    * relative to their corpus, and at that size the distributed loop's
    * per-round scheduling dominates its actual work. The count that
    * routes is one job over a frame the pair operators return already
    * cached. Larger graphs run the distributed propagation below;
    * ClustersPropSpec drives BOTH paths against an independent oracle.
    *
    * Distributed path — iterative min-label propagation WITH pointer
    * jumping: each round
    * takes the least of (own label, min neighbor label, label OF the
    * label). The third term is path doubling — label(label(id)) jumps
    * twice as far along the label chain every round — so rounds =
    * O(log diameter), not O(diameter): a 10⁶-link chain (far beyond any
    * real crawl corpus) converges in ~20 rounds. Each round is two key
    * joins + one aggregate over the (persisted) edge list — no
    * driver-side graph. Convergence is detected by the label sum (labels
    * only decrease; decimal sum cannot overflow), one tiny aggregate per
    * round; if the sum is still moving at `maxIters` the method THROWS
    * rather than return silently wrong labels (the pre-r9 behavior — the
    * one silent-wrong-answer path the round-8 audit found). Output is one
    * row per id that appears in a pair; it is left persisted for the
    * caller's downstream joins (caller unpersists). */
  def clusters(pairsRaw: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", maxIters: Int = 20,
      maxDriverEdges: Long = MaxDriverEdges): DataFrame = {
    // Null ids AND cast-failed ids are dropped up front so both
    // resolution paths see the same graph — garbage edges must neither
    // NPE the driver path (getLong on a post-cast null) nor emit
    // null-keyed rows from the distributed one. The cast happens HERE,
    // once, on the columns both paths consume: numeric ids cast straight
    // to long (ANSI-safe — widening/truncating numeric casts don't
    // throw), anything else goes through the null-on-failure tryLong
    // gate so a dirty string id is filtered, not thrown on.
    def asLong(name: String): Column = pairsRaw.schema(name).dataType match {
      case LongType => col(name)
      case _: NumericType => col(name).cast(LongType)
      case _ => graft.util.Exprs.tryLong(col(name))
    }
    val pairs = pairsRaw
      .select(asLong(aCol).as(aCol), asLong(bCol).as(bCol))
      .where(col(aCol).isNotNull && col(bCol).isNotNull)
    // The routing count must not re-execute the caller's pair pipeline:
    // the pair operators return their result CACHED (so the count is a
    // cache read), but for an un-persisted input we stage it ourselves
    // for the duration of the resolution — count materializes the stage,
    // both paths read it, and the stage is dropped before returning.
    val preCached =
      pairsRaw.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val staged = if (preCached) pairs else pairs.persist()
    try {
      if (staged.count() <= maxDriverEdges) driverClusters(staged, aCol, bCol)
      else distributedClusters(staged, aCol, bCol, maxIters)
    } finally {
      if (!preCached) staged.unpersist(false)
    }
  }

  private def distributedClusters(pairs: DataFrame, aCol: String,
      bCol: String, maxIters: Int): DataFrame = {
    // Undirected edge list in ONE scan of `pairs`: a union of the forward
    // and reversed projections would execute the caller's (possibly
    // expensive, possibly un-cached) pair pipeline once per branch before
    // the persist materializes — with minhashPairs upstream that re-runs
    // the whole LSH bucket join + verify twice. explode doubles rows
    // inside the same scan instead.
    // No distinct: duplicate edges cannot change a min aggregate, so the
    // dedup shuffle would be pure cost.
    val und = pairs
      .select(explode(array(
        struct(col(aCol).cast(LongType).as("src"),
          col(bCol).cast(LongType).as("dst")),
        struct(col(bCol).cast(LongType).as("src"),
          col(aCol).cast(LongType).as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .persist()
    // sum() over zero rows is null — an empty pair list (a corpus with no
    // near-dups) must read as already-converged, not NPE in compareTo
    def labelSum(l: DataFrame): java.math.BigDecimal = {
      val s = l.agg(sum(col("cluster").cast(DecimalType(38, 0))).as("s"))
        .head().getDecimal(0)
      if (s == null) java.math.BigDecimal.ZERO else s
    }
    val spark = pairs.sparkSession
    // Lineage truncation: every round references the previous labels
    // frame THREE times (self, neighbor-min, parent lookup), so the
    // LOGICAL plan grows 3^rounds even though the data is persisted —
    // plan-string rendering alone OOMs past ~6 rounds. Rebasing on the
    // materialized RDD resets the plan, but the Row round-trip
    // de-optimizes the next round's input, so it runs every FOURTH round
    // only: growth is bounded at 3⁴ ≈ 81 small nodes per segment, and
    // the common shallow near-dup component (1 round + 1 confirm) pays
    // no conversion at all. (On a real cluster with executor loss,
    // `checkpoint()` to reliable storage at the same cadence is the
    // durable variant of this.)
    def truncated(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd, df.schema)
    val truncateEvery = 4
    // initial label = least(self, min neighbor): the first propagation
    // round fused into a single groupBy over the edge list — shallow
    // (diameter-1) components are already converged here, so the loop
    // below runs exactly one confirming round for them
    var persisted = und.groupBy("src")
      .agg(least(col("src"), min(col("dst"))).as("cluster"))
      .withColumnRenamed("src", "id").persist()
    var ok = false
    try {
      var labels: DataFrame = persisted
      var prevSum = labelSum(labels)
      var iter = 0
      var converged = false
      while (!converged && iter < maxIters) {
        val nbrMin = und
          .join(labels.withColumnRenamed("id", "dst"), "dst")
          .groupBy("src").agg(min("cluster").as("nmin"))
          .withColumnRenamed("src", "id")
        // pointer jump: label(label(id)). Every label value is itself an
        // id with a labels row (labels are minima over ids seen in `und`,
        // and every such id is a `src`), so the parent lookup is a total
        // key join; the left join + coalesce only guards the invariant.
        // Both joins read the SAME persisted `labels`, so the round stays
        // one materialization.
        val parent = labels
          .select(col("id").as("__pid"), col("cluster").as("__pc"))
        val nextPersisted = labels.join(nbrMin, Seq("id"), "left")
          .join(parent, col("cluster") === col("__pid"), "left")
          .select(col("id"),
            least(col("cluster"), coalesce(col("nmin"), col("cluster")),
              coalesce(col("__pc"), col("cluster")))
              .as("cluster"))
          .persist()
        val next = if ((iter + 1) % truncateEvery == 0) truncated(nextPersisted)
                   else nextPersisted
        val s = labelSum(next)
        converged = s.compareTo(prevSum) == 0
        prevSum = s
        persisted.unpersist()
        persisted = nextPersisted
        labels = next
        iter += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"near-dup clusters did not converge within maxIters=$maxIters " +
            "pointer-jumping rounds — component diameter exceeds 2^maxIters; " +
            "raise maxIters (labels would be silently wrong if returned)")
      ok = true
      // return the PERSISTED handle, not a truncated wrapper: when the
      // loop happens to end on a truncation round, unpersist() on the
      // wrapper would be a CacheManager no-op and the label cache would
      // leak past the documented caller-unpersists contract
      persisted
    } finally {
      // a mid-loop job failure (or the non-convergence throw) must not
      // pin the edge list or the in-flight labels for the session
      und.unpersist()
      if (!ok) persisted.unpersist()
    }
  }

  /** Driver-side resolution for pair lists under [[MaxDriverEdges]]:
    * union-find with path halving, roots kept at the component MINIMUM so
    * find() IS the canonical label. Same output contract as the
    * distributed path — one (id, cluster) row per paired id, returned
    * persisted and materialized (caller unpersists). */
  private def driverClusters(pairs: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // ids arrive pre-cast to long and null-filtered by clusters() —
    // getLong below cannot NPE
    val edges = pairs.select(col(aCol), col(bCol)).collect()
    val parent = new scala.collection.mutable.LongMap[Long](
      math.max(16, edges.length * 2))
    def find(x0: Long): Long = {
      var x = x0
      while (parent(x) != x) {
        val p = parent(x)
        parent(x) = parent(p) // path halving
        x = parent(x)
      }
      x
    }
    edges.foreach { r =>
      val a = r.getLong(0); val b = r.getLong(1)
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      // min root wins: the representative is the smallest reachable id
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    val ids = parent.keys.toArray // find() mutates; snapshot keys first
    val out = ids.sorted.map(id => (id, find(id))).toSeq
      .toDF("id", "cluster").persist()
    out.count()
    out
  }

  /** SimHash over whitespace tokens: bit b is set when the sum of ±1 votes
    * (token hash bit b) is positive. Near-dups differ in few bits (compare
    * with Hamming distance via bit_count(a ^ b)).
    *
    * `bits`/`tokenHash` default to 64-bit xxhash64 — the production-scale
    * choice. The token hashes are staged through one `transform` so each
    * token is hashed ONCE; referencing the lambda variable in the 64-way
    * vote loop is a bound-value lookup, whereas inlining the hash expr
    * would re-evaluate it per bit (64 hashes per token). */
  def simhash(c: Column, bits: Int = 64,
      tokenHash: Column => Column = xxhash64(_)): Column = {
    val hs = transform(split(normalize(c), " "), t => tokenHash(t))
    // the ±1 vote fold runs as the SimhashVote codegen kernel (r15; was
    // a Scala UDF, and before that a declarative aggregate+zip_with that
    // allocated a fresh bits-long array per token, ~6 s for the two
    // 56-bit signatures of q_simhash at sf0.1). Token HASHES stay
    // expressions (md5/xxhash64 oracle parity); bit order matches the
    // old shiftright/shiftleft formulation exactly.
    TextKernels.simhashVote(hs, bits)
  }

  /** 56-bit token hash computable IDENTICALLY by an external SQL engine:
    * first 14 hex chars of md5, parsed base-16. 56 bits (not 64) because
    * verifiers without wrapping left-shifts (e.g. DuckDB errors on
    * `1::BIGINT << 63`) must be able to rebuild the signature; the value
    * always stays in non-negative signed-long range. Used by the
    * oracle-checked q_simhash variant; xxhash64 remains the fast default. */
  def md5Hash56(t: Column): Column =
    conv(substring(md5(t.cast(BinaryType)), 1, 14), 16, 10).cast(LongType)

  /** Embedding near-dup: pairs whose cosine ≥ threshold, via hyperplane-LSH
    * banding (no all-pairs scan).
    *
    * Candidate staging: the band join carries only (id, signature) — one
    * long per row, not the vector — and a signature-Hamming prefilter runs
    * BEFORE pair dedup and the O(dim) cosine. On clustered corpora a band
    * bucket holds a whole cluster, so within-bucket pairs vastly outnumber
    * true near-dups; bit_count(xor) is ~100× cheaper than the cosine it
    * gates. The cutoff 3·E[hamming] + 2 (E = planes·θ/π at the threshold
    * angle) is a ≥3× Chernoff margin — at planes=32, threshold=0.95 that
    * is 12 of 32 bits vs the expected 3.2, drop probability < 1e-6 per
    * true pair; exact duplicates have Hamming 0 and are never at risk.
    * Survivors re-join their vectors by id for the exact cosine verify.
    *
    * @param maxBucket same LSH skew guard as [[minhashPairs]]: a mass
    *   family of identical embeddings fills one (band, bits) bucket and
    *   the within-bucket candidate join goes O(copies²). Over the
    *   threshold, buckets emit star candidates (bucket-min ↔ member,
    *   linear) — see [[bucketCandidates]] for the exact recall
    *   trade-off. Default 0 = AUTO ([[autoMaxBucket]] from the corpus
    *   row count); Int.MaxValue disables (exact pair list, zero guard
    *   cost).
    * @param planes 0 = AUTO (r20): bits-per-band scale with the corpus
    *   so the bucket count tracks n — [[autoPlanes]]. A FIXED band
    *   width is the one way this operator goes quadratic on realistic
    *   (non-duplicate-saturated) corpora: 8-bit bands = 256 buckets per
    *   band, and 200k random vectors in 256 buckets mean ~n²/512
    *   within-bucket candidates PER BAND regardless of any skew guard —
    *   measured at sf10 (×100 synthetic embeddings): the candidate
    *   shuffle filled 75 GB of disk. Auto keeps expected bucket size
    *   ~64 (12 bits at 200k rows), which also holds candidate mass
    *   ~n·32 per band. Explicit values still honored for specs. */
  /** @param bucketBatches same peak-scratch bound as
    *   [[minhashPairs]]' knob ([[runBatchedPairs]]): >1 processes the
    *   (band, bits) bucket keyspace in that many hash-slices with
    *   cross-slice anti-join dedup. Parity spec-pinned
    *   (BandBatchSpec). Default 1 = single-pass. */
  def embeddingPairs(df: DataFrame, vecCol: String, idCol: String,
      dim: Int, threshold: Double = 0.95,
      planes: Int = 0, bands: Int = 4,
      maxBucket: Int = 0, bucketBatches: Int = 1): DataFrame = {
    import graft.sim.Similarity._
    require(bucketBatches >= 1 && bucketBatches <= 4096,
      s"bucketBatches must be in [1, 4096], got $bucketBatches")
    val resolvedPlanes =
      if (planes > 0) planes else autoPlanes(df.count(), bands)
    require(resolvedPlanes % bands == 0)
    val r = resolvedPlanes / bands
    val hammingMax = math.min(resolvedPlanes - 1, math.ceil(
      3.0 * resolvedPlanes * math.acos(math.max(-1.0, math.min(1.0, threshold)))
        / math.Pi + 2).toInt)
    // Only (id, signature) is cached — 16 bytes a row; caching the
    // vectors too would pin a full copy of the embedding column in
    // executor storage for the life of the session. The vector join-back
    // for survivors re-derives from the source (one extra pruned scan).
    // withVec drops rows without a vector (unscoreable, must not be fatal).
    val vecDf = withVec(df, vecCol, "__v")
      .select(col(idCol).as("__id"), col("__v"))
    val sigDf = vecDf
      .withColumn("__sig",
        VectorKernels.signature(col("__v"), dim, resolvedPlanes))
      .select("__id", "__sig")
      .cache()
    // resolving the auto guard counts sigDf — which just materializes the
    // 16 B/row signature cache every downstream branch reads anyway
    val mb = if (maxBucket > 0) maxBucket
             else autoResolvedBucket(sigDf.count())
    val buckets = sigDf.select(col("__id"), col("__sig"),
      explode(array((0 until bands).map(lit): _*)).as("__band"))
      .withColumn("__bits",
        call_function("shiftright", col("__sig"), col("__band") * r)
          .bitwiseAND(lit((1L << r) - 1)))
    // candidate-join → Hamming prefilter → exact cosine verify over one
    // bucket subset — shared by the single-pass and batched paths
    def verifiedPairs(bs: DataFrame,
        minus: Option[DataFrame]): (DataFrame, Seq[DataFrame]) = {
      val (pairs0, staged) = bucketCandidates(bs, Seq("__band", "__bits"),
        Seq("__sig"), mb)(
        _.where(bit_count(col("__sig_a").bitwiseXOR(col("__sig_b"))) <= hammingMax))
      val pairs = minus.foldLeft(pairs0)((p, m) =>
        p.join(m.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_anti"))
      val out = pairs
        .join(vecDf.select(col("__id").as("id_a"), col("__v").as("va")), "id_a")
        .join(vecDf.select(col("__id").as("id_b"), col("__v").as("vb")), "id_b")
        .select(col("id_a"), col("id_b"),
          // codegen cosine kernel (graft.functions.CosineSim): bit-identical
          // to the cosineUdf fold, minus the per-row Seq boxing
          round(VectorKernels.cosine(col("va"), col("vb")), 6)
            .as("cosine"))
        .where(col("cosine") >= threshold)
      (out, staged)
    }
    if (bucketBatches == 1) {
      val (out, staged) = verifiedPairs(buckets, None)
      // Same contract as [[minhashPairs]]: compute the small pair list now,
      // release the signature cache (even on failure), return the cached
      // result (caller unpersists once consumed).
      materializeAndRelease(out, Seq(sigDf) ++ staged)
    } else {
      runBatchedPairs(buckets,
        xxhash64(struct(col("__band"), col("__bits"))),
        bucketBatches, verifiedPairs, Seq(sigDf))
    }
  }
}
