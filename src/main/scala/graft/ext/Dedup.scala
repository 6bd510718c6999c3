package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.Analytics

/** Near-duplicate detection for large-scale text pipelines — the extension
  * surface the reference lacks entirely (it has no text ops; see SURVEY.md
  * §2.7 "no regex beyond F3/F4"). Three schemes, all candidate-generation +
  * exact-verification so results are deterministic and oracle-checkable:
  *
  *  - exact:   hash-groupBy on raw text (`SparkEntry` q30).
  *  - MinHash: K seeded minhashes over token n-gram shingles, banded LSH
  *             bucket join for candidates, exact Jaccard verify.
  *  - SimHash: 64-bit fingerprint, 4×16-bit block keys for candidates
  *             (pigeonhole: hamming ≤ 3 ⇒ ≥1 equal block), exact verify.
  *
  * Scale shape (100 TB posture): signatures are computed per-row with no
  * explode-to-shuffle (nested higher-order functions, whole-stage codegen);
  * the only shuffles are the band/block self-join — keyed on short band
  * hashes, so buckets stay small and AQE handles skewed ones — and the
  * final verify join keyed on doc id. Everything is linear in corpus size
  * except within-bucket pairing, which LSH keeps near-linear.
  */
object Dedup {

  /** Lowercase word tokens (BPE-ish splitting is [[tokensBpeish]]). */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  /** BPE-flavored tokenisation: letter runs, single digits, and single
    * punctuation marks each count as a token — the whitespace+regex
    * approximation of a byte-pair vocabulary's pre-tokeniser. */
  def tokensBpeish(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0))

  /** Distinct n-token shingles joined with single spaces. Empty array when
    * the document has fewer than n tokens (guards `sequence`'s descending
    * behaviour for a negative stop). */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(array_distinct(
        transform(
          sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))))

  /** Exact Jaccard similarity of two pre-distinct string arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val u = size(array_union(a, b))
    when(u === 0, lit(0.0))
      .otherwise(size(array_intersect(a, b)).cast("double") / u)
  }

  private val P31 = 2147483647L // 2^31-1, prime

  /** Seeded affine minhash parameters `(a_k, b_k)`, a_k ∈ [1, p),
    * b_k ∈ [0, p). One base hash + K affine transforms is the standard
    * cheap MinHash family: `h_k(s) = (a_k·h(s) + b_k) mod p`. */
  def affineParams(k: Int, seed: Long): Array[(Long, Long)] = {
    val rnd = new java.util.Random(seed)
    Array.fill(k)((1L + rnd.nextInt(P31.toInt - 1), rnd.nextInt(P31.toInt).toLong))
  }

  /** Base shingle hashes (xxhash64) — compute ONCE per row and materialise
    * behind a barrier before fanning out into signatures: Catalyst does not
    * eliminate common higher-order subexpressions, so inlining this into K
    * signature lambdas multiplies the hash work K-fold. */
  def baseHashes(sh: Column): Column = transform(sh, s => xxhash64(s))

  /** JIT tokenize→shingle→hash kernel: text → (distinct n-gram shingles,
    * 64-bit FNV-1a base hashes). The Column-function pipeline
    * ([[tokens]]→[[shingles]]→[[baseHashes]]) evaluates per-element
    * lambdas interpreted, which dominates dedup prep at corpus scale; this
    * one pass is the same computation JIT-compiled. Shingle STRINGS are
    * kept because the exactness contract (the oracle compare) verifies
    * Jaccard on the real sets — the hashes are internal to LSH. */
  def prepUdf(n: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      val toks = scala.collection.mutable.ArrayBuffer.empty[String]
      if (text != null) {
        val m = java.util.regex.Pattern.compile("[a-z0-9]+")
          .matcher(text.toLowerCase(java.util.Locale.ROOT))
        while (m.find()) toks += m.group()
      }
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      var i = 0
      while (i + n <= toks.length) {
        val sb = new java.lang.StringBuilder(toks(i))
        var j = 1
        while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
        seen += sb.toString
        i += 1
      }
      val sh = seen.toArray
      val hs = new Array[Long](sh.length)
      i = 0
      while (i < sh.length) {
        // FNV-1a 64-bit over UTF-16 code units — any stable 64-bit mix works,
        // the hashes never leave the LSH internals
        var h = 0xcbf29ce484222325L
        val s = sh(i)
        var c = 0
        while (c < s.length) { h ^= s.charAt(c); h *= 0x100000001b3L; c += 1 }
        hs(i) = h
        i += 1
      }
      (sh, hs)
    }

  /** K-wide MinHash signature from pre-computed base hashes: element k is
    * `min_h (a_k·(h & 0x7fffffff) + b_k) mod p` — pure 64-bit arithmetic,
    * no overflow (products < 2⁶²), fully codegen'd. */
  def minhashSignature(hs: Column, k: Int, seed: Long = 42L): Column = {
    val ps = affineParams(k, seed)
    array(ps.map { case (a, b) =>
      array_min(transform(hs,
        h => (h.bitwiseAND(lit(0x7FFFFFFFL)) * a + b) % P31))
    }: _*)
  }

  /** Banded LSH keys: `bands` hashes, each over `rows` consecutive
    * signature entries. Equal band value ⇒ candidate pair. */
  def bandKeys(sig: Column, bands: Int, rows: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => xxhash64(concat_ws(",",
        transform(slice(sig, b * rows + 1, lit(rows)), v => v.cast("string")))))

  /** JIT-compiled signature+banding kernel: base hashes → `bands` band
    * keys in one tight loop. Spark's higher-order functions evaluate their
    * lambdas interpreted (they are not part of whole-stage codegen), which
    * makes the K·|shingles| inner product of MinHash ~100× slower than
    * this plain Scala loop; a custom Catalyst Expression with `doGenCode`
    * would shave the remaining serialisation overhead if ever needed. */
  def minhashBandKeysUdf(
      k: Int, bands: Int, rows: Int, seed: Long): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val ps = affineParams(k, seed)
    udf { (hs: Seq[Long]) =>
      val n = hs.length
      val base = new Array[Long](n)
      var i = 0
      while (i < n) { base(i) = hs(i) & 0x7FFFFFFFL; i += 1 }
      val sig = new Array[Long](k)
      var j = 0
      while (j < k) {
        val (a, b) = ps(j)
        var m = Long.MaxValue
        i = 0
        while (i < n) {
          val v = (base(i) * a + b) % P31
          if (v < m) m = v
          i += 1
        }
        sig(j) = m
        j += 1
      }
      val keys = new Array[Long](bands)
      var q = 0
      while (q < bands) {
        var acc = 1125899906842597L
        i = q * rows
        while (i < q * rows + rows) { acc = acc * 31 + sig(i); i += 1 }
        keys(q) = acc
        q += 1
      }
      keys
    }
  }

  /** JIT-compiled SimHash kernel (see [[minhashBandKeysUdf]] for why this
    * is a UDF rather than HOF expressions): returns the full 64-bit
    * fingerprint plus the per-block join keys. The fingerprint rides along
    * so candidate pairs can be hamming-prefiltered with one XOR+popcount
    * before the expensive shingle-set verification. */
  def simhashUdf(
      blocks: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
    require(64 % blocks == 0)
    val w = 64 / blocks
    udf { (hs: Seq[Long]) =>
      val sums = new Array[Int](64)
      hs.foreach { h =>
        var bit = 0
        while (bit < 64) {
          if (((h >>> bit) & 1L) == 1L) sums(bit) += 1 else sums(bit) -= 1
          bit += 1
        }
      }
      var fp = 0L
      var bit = 0
      while (bit < 64) {
        if (sums(bit) > 0) fp |= (1L << bit)
        bit += 1
      }
      val keys = new Array[Long](blocks)
      var q = 0
      while (q < blocks) {
        keys(q) = ((fp >>> (q * w)) & ((1L << w) - 1)) + q.toLong * 4294967296L
        q += 1
      }
      (fp, keys)
    }
  }

  /** Pairs `(doc_a, doc_b)` with exact Jaccard ≥ `tau`, candidates from
    * MinHash banded LSH. With bands=16, rows=8 the miss probability at
    * J=0.8 is (1−0.8⁸)¹⁶ ≈ 5%, at J=0.95 ~1e−9; pick τ comfortably above
    * the corpus's similarity waterline. */
  def nearDupMinhash(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2,
      k: Int = 128,
      bands: Int = 16,
      rows: Int = 8,
      tau: Double = 0.8): DataFrame = {
    require(bands * rows <= k, "bands*rows must fit in the signature")
    // barrier: shingles+hashes land on disk/memory once; the band-key
    // fan-out and the self-join's two branches read them instead of
    // re-tokenising
    val hashed = prep(docs, idCol, textCol, n)
    val banded = hashed.select(col("doc_id"),
      posexplode(minhashBandKeysUdf(k, bands, rows, seed = 42L)(col("hs")))
        .as(Seq("band", "key")))
      .localCheckpoint(eager = true) // self-join reads it twice
    verifyJaccard(candidatePairs(banded), hashed.select(col("doc_id"), col("sh")), tau)
  }

  /** 64-bit SimHash of a shingle set as `blocks` equal-width block values
    * (bit j of block q = sign of `Σ_s ±1 by bit (q·w+j) of xxhash64(s)`),
    * each offset by `q·2³²` so values from different block positions never
    * collide. Pigeonhole: two fingerprints within hamming distance
    * `blocks−1` share at least one block. Wider-hamming near-dups need more
    * blocks (narrower keys → bigger buckets): pick
    * `blocks ≈ expected hamming + 1`, and at very large corpus sizes keep
    * block width ≥ log₂(corpus)/2 so buckets stay sub-linear. The static
    * per-bit expansion keeps everything in whole-stage codegen. */
  def simhashBlockValues(sh: Column, blocks: Int = 8): Seq[Column] =
    simhashBlocksFromHashes(transform(sh, s => xxhash64(s)), blocks)

  /** Same, from pre-computed base hashes (see [[baseHashes]] — use with a
    * checkpoint barrier so the 64 per-bit aggregates share one hash pass). */
  def simhashBlocksFromHashes(hashes: Column, blocks: Int = 8): Seq[Column] = {
    require(64 % blocks == 0, "blocks must divide 64")
    val w = 64 / blocks
    (0 until blocks).map { q =>
      val block = (0 until w).map { j =>
        val bitSum = aggregate(
          hashes,
          lit(0L),
          (a, h) => a + when(shiftright(h, q * w + j).bitwiseAND(1) === 1, 1L)
            .otherwise(-1L))
        when(bitSum > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
      block + lit(q.toLong * 4294967296L)
    }
  }

  /** Pairs with exact Jaccard ≥ `tau`, candidates from SimHash block
    * collisions (certain for hamming ≤ blocks−1 by pigeonhole). Block
    * collisions are frequent by chance at corpus scale (an 8-bit key has
    * 256 values), so candidates are hamming-prefiltered on the full
    * fingerprint — one XOR+popcount per pair — before the shingle-set
    * verification touches any arrays.
    *
    * SHORT-DOC COMPLETENESS NET: simhash concentration needs features —
    * over a ~10-shingle doc the fingerprint's variance is so high that a
    * true τ=0.8 pair can differ in EVERY block (measured on the sf0.1
    * fixture: 2 of 256 true pairs, at hamming 11 and 15 with all 8
    * blocks touched, evaded the screen; both sides had ≤ 11 shingles).
    * The fix is principled, not a wider screen: `J ≥ τ` with
    * `min(|a|,|b|) < exactBelow` forces BOTH sides below
    * `exactBelow/τ`, so running the GUARANTEED-complete prefix-filter
    * pipeline over just that closed short-doc subset (cheap — few
    * shingles per doc, near-linear join) restores full recall exactly
    * where the probabilistic screen is weak, while long docs — where
    * simhash concentrates — keep the cheap screen. Survivors of both
    * arms pass the same exact verification at `tau`. */
  def nearDupSimhash(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2,
      tau: Double = 0.8,
      blocks: Int = 8,
      maxHamming: Int = 16,
      exactBelow: Int = 24): DataFrame = {
    val hashed = prep(docs, idCol, textCol, n)
    val blocked = hashed
      .withColumn("r", simhashUdf(blocks)(col("hs")))
      .select(col("doc_id"), col("r._1").as("fp"),
        posexplode(col("r._2")).as(Seq("band", "key")))
      .localCheckpoint(eager = true)
    val cand = blocked.as("x")
      .join(blocked.as("y"),
        col("x.key") === col("y.key") && col("x.doc_id") < col("y.doc_id"))
      .filter(bit_count(col("x.fp").bitwiseXOR(col("y.fp"))) <= maxHamming)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val screened = verifyJaccard(cand, hashed.select(col("doc_id"), col("sh")), tau)
    // rational τ' = floor(τ·1000)/1000 ≤ τ keeps the net's prefix bound
    // complete for J ≥ τ; its (possibly slightly looser) pair set is
    // re-verified at the double τ so both arms share one criterion
    val limit = math.ceil(exactBelow / tau).toInt
    val netCand = jaccardPairsFromHashed(
      hashed.filter(size(col("sh")) < limit),
      math.floor(tau * 1000).toInt, 1000)
    val net = verifyJaccard(netCand, hashed.select(col("doc_id"), col("sh")), tau)
    screened.unionByName(net).distinct()
  }

  /** Pairs with exact Jaccard ≥ `tauNum/tauDen`, candidates from PREFIX
    * FILTERING (AllPairs/PPJoin family, Bayardo et al. WWW'07) — the
    * GUARANTEED-complete member of the near-dup family: J(a,b) ≥ τ implies
    * |a∩b| ≥ ⌈τ·max(|a|,|b|)⌉, and two sets with overlap ≥ o must share an
    * element within the first `|s|−o+1` elements of each in ANY fixed
    * global order (here: lexicographic — binary-identical ordering in
    * Spark and ANSI engines for the ASCII shingle alphabet). Unlike
    * MinHash/SimHash candidates, no pair above τ can ever be missed, for
    * any corpus — so a brute-force oracle is valid unconditionally.
    *
    * τ is a RATIONAL (`tauNum/tauDen`) so the per-set overlap bound
    * `⌈τ·|s|⌉ = (tauNum·|s| + tauDen − 1) div tauDen` is computed in exact
    * integer arithmetic: a float `ceil(0.8·15)` evaluates 12.000000000000002
    * → 13 and would silently shorten the prefix below the completeness
    * bound.
    *
    * Scale shape: explode only the prefixes (a (1−τ) fraction of each
    * shingle set), self-join on the shingle string, verify exact Jaccard.
    * Hot prefixes (common shingles) can skew the join — AQE skew-join
    * splits those buckets; DF-ascending global orders shrink prefixes
    * further if ever needed (a pure optimisation, completeness holds for
    * any order). */
  /** Memoised like [[prep]]: the pair set is a deterministic pure
    * function of (corpus, n, τ) and is consumed by several queries (the
    * q44 witness, q58's group collapse) — the result is tiny (true pairs
    * only), so one eager checkpoint per key serves every consumer.
    * NOTE the memo side effect for plan audits: the returned frame is a
    * checkpointed `Scan ExistingRDD`, so `.explain` on it shows nothing —
    * dump [[nearDupJaccardExactLazy]] to see the real self-join shape. */
  def nearDupJaccardExact(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2,
      tauNum: Int = 4,
      tauDen: Int = 5): DataFrame =
    graft.functions.Memos.getOrElseUpdate(
      docs.sparkSession,
      ("jaccard-pairs",
        docs.queryExecution.analyzed.canonicalized, idCol, textCol, n,
        tauNum, tauDen))(
      nearDupJaccardExactImpl(docs, idCol, textCol, n, tauNum, tauDen)
        .localCheckpoint(eager = true))

  /** The un-memoised, un-checkpointed pipeline — for plan audits
    * ([[graft.PlanDump]]) and anyone composing further relational work on
    * top (the lazy plan keeps prefix/length/hash tests visible as join
    * residuals for Catalyst instead of hiding them behind an RDD scan). */
  private[graft] def nearDupJaccardExactLazy(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2,
      tauNum: Int = 4,
      tauDen: Int = 5): DataFrame =
    nearDupJaccardExactImpl(docs, idCol, textCol, n, tauNum, tauDen)

  private def nearDupJaccardExactImpl(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      tauNum: Int,
      tauDen: Int): DataFrame =
    jaccardPairsFromHashed(prep(docs, idCol, textCol, n), tauNum, tauDen)

  /** CONTAINMENT near-dup pairs — `C(A→B) = |A∩B| div |A| ≥ τ` over the
    * word-bigram shingle SETS (Broder 1997's containment, the
    * asymmetric sibling of resemblance/Jaccard): catches a document
    * CONTAINED in a larger one — quotes, boilerplate-wrapped reposts,
    * page-in-crawl subsets — where symmetric Jaccard dilutes below any
    * usable threshold because the union is dominated by the big side.
    * Output `(doc_a, doc_b, containment_ppm)`, one row per ORDERED pair
    * with doc_a's shingles ≥ τ-contained in doc_b's; the threshold and
    * the ppm score are exact integers (`inter·tauDen ≥ |A|·tauNum`), no
    * float anywhere.
    *
    * Complete candidate generation: if C ≥ τ then at most
    * `|A| − ⌈τ|A|⌉` of A's shingles miss B, so A's prefix of its
    * `|A| − ⌈τ|A|⌉ + 1` RAREST shingles (the AllPairs document-frequency
    * order [[nearDupJaccardExact]] uses) must share an element with B —
    * joined against the FULL posting list, because containment has no
    * symmetric length filter (B may be arbitrarily larger; `|B| ≥ τ|A|`
    * is implied by the verify since `inter ≤ |B|`).
    *
    * Scale shape: the posting-list equi-join is keyed on the shingle
    * with the prefix side biased to RARE shingles, and THREE
    * completeness-preserving residuals run inside the join — the length
    * filter `|B| ≥ τ|A|` (implied by any true pair since inter ≤ |B|),
    * the B-side positional filter (a qualifying pair's FIRST shared
    * element — both sides rank shingles in the same global (df, p)
    * order, so "first shared" is the same element on both — must sit at
    * B-rank `j ≤ |B| − ⌈τ|A|⌉ + 1`), and the PPJoin overlap bound
    * `1 + min(|A|−i, |B|−j) ≥ ⌈τ|A|⌉`. Later shared occurrences carry
    * tighter bounds, so killing an occurrence never kills a true pair's
    * first occurrence — candidates stay complete while a degenerate
    * small-vocabulary corpus prunes from millions to roughly the true
    * pairs. The exact verify is the packed-string merge walk over the
    * per-doc packed side (gate-broadcast below [[packedHint]]'s doc
    * bound, shuffled equi-join above it); the candidate frame is explicitly
    * repartitioned first so AQE's post-shuffle coalesce cannot collapse
    * the UDF-heavy probe onto one task, and the UDF is marked
    * nondeterministic so Catalyst evaluates the walk ONCE per pair
    * instead of duplicating it into filter and projection. */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2,
      tauNum: Int = 4,
      tauDen: Int = 5): DataFrame = {
    val hashed = prep(docs, idCol, textCol, n)
    val cand = containmentCandidates(hashed, tauNum, tauDen)
    val packed = hashed.select(col("doc_id"),
      concat_ws(ShingleSep.toString, array_sort(col("sh"))).as("shp"))
    val hint = packedHint(hashed)
    cand
      .join(hint(packed.select(col("doc_id").as("doc_a"),
        col("shp").as("pa"))), Seq("doc_a"))
      .join(hint(packed.select(col("doc_id").as("doc_b"),
        col("shp").as("pb"))), Seq("doc_b"))
      .withColumn("inter", interPackedUdf(col("pa"), col("pb")))
      .filter(col("inter") * tauDen >= col("na") * tauNum)
      .select(col("doc_a"), col("doc_b"),
        expr("(CAST(inter AS BIGINT) * 1000000) div na")
          .as("containment_ppm"))
      .distinct()
  }

  /** The containment prefix-filter CANDIDATE occurrences `(doc_a, doc_b,
    * na)` from an already-prepped frame — split out of
    * [[containmentPairs]]; SCALE_r12.md priced this candidate volume
    * against corpus size without paying the verify. */
  private def containmentCandidates(
      hashed: DataFrame,
      tauNum: Int,
      tauDen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = hashed.sparkSession.sessionState.conf.numShufflePartitions
    val exploded = hashed.select(col("doc_id").as("doc_a"),
      size(col("sh")).as("na"), explode(col("sh")).as("p"))
    val dfreq = exploded.groupBy("p").agg(count(lit(1)).as("df"))
    // full posting list in the SAME global (df, p) rank order as the
    // prefixes — the B-side positional coordinate
    val posts = exploded
      .select(col("doc_a").as("doc_b"), col("na").as("nb"), col("p"))
      .join(dfreq, Seq("p"))
      .withColumn("rb", row_number().over(
        Window.partitionBy("doc_b").orderBy(col("df"), col("p"))))
      .select(col("doc_b"), col("nb"), col("rb"), col("p"))
    val prefLen = (col("na") - expr(
      s"(na * $tauNum + ${tauDen - 1}) div $tauDen").cast("int") + 1)
    val pref = exploded.join(dfreq, Seq("p"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_a").orderBy(col("df"), col("p"))))
      .filter(col("rk") <= prefLen)
      .select(col("doc_a"), col("na"), col("rk"), col("p"))
    // ⌈τ·|A|⌉ — the required overlap, a function of the A side only
    val alphaA = expr(s"(na * $tauNum + ${tauDen - 1}) div $tauDen")
    pref.join(posts,
        pref("p") === posts("p") && col("doc_a") =!= col("doc_b") &&
          col("nb") * tauDen >= col("na") * tauNum &&
          col("rb") <= col("nb") - alphaA + lit(1) &&
          lit(1) + least(col("na") - col("rk"), col("nb") - col("rb")) >= alphaA)
      .select("doc_a", "doc_b", "na")
      // fixed-width repartition: the verify consuming this is UDF-bound,
      // and on a degenerate corpus AQE would coalesce the small-byte
      // candidate shuffle onto one task. No pre-verify distinct —
      // duplicate occurrences of a pair re-run the (cheap) walk and
      // collapse in the FINAL distinct over the few true rows, which
      // beats a candidate-scale dedup exchange + hash aggregate.
      .repartition(parts, col("doc_a"), col("doc_b"))
  }

  /** Gated broadcast hint for the |docs|-scale PACKED-SHINGLE side of the
    * exact-verify tier (shared by [[jaccardPairsFromHashed]] and
    * [[containmentPairs]]). The packed frame carries one row per document
    * with its full ShingleSep-joined shingle string — |docs|×KB by
    * construction — so an UNCONDITIONAL `broadcast()` is a driver-side
    * scale-killer: at corpus scale it blows Spark's 8 GB broadcast ceiling
    * (or OOMs the driver building the relation) long before any executor
    * sees a row. Same measured-count gate as
    * [[graft.graph.Analytics]]' stateHint: `prep` eagerly
    * localCheckpoints the hashed frame, so counting it is an
    * O(cached partitions) job paid once per memoised build. Below the
    * gate (default 500k docs ≈ ½ GB packed) the verify keeps the
    * broadcast build the fixtures measure; above it the hint vanishes
    * and Catalyst's genuine size statistics decide (eager localCheckpoint
    * records real sizeInBytes) — past the auto-broadcast threshold that
    * is the shuffled equi-join on doc id, the only shape that survives
    * 100 TB. `spark.graft.dedup.broadcastDocs` overrides the gate
    * (0 removes the hint outright; SkewStressSpec uses that plus a -1
    * auto-broadcast threshold to pin the shuffled shape). */
  private def packedHint(hashed: DataFrame): DataFrame => DataFrame = {
    val below = hashed.sparkSession.conf
      .getOption("spark.graft.dedup.broadcastDocs")
      .map(_.toLong).getOrElse(500000L)
    if (below > 0L && hashed.count() <= below)
      (df: DataFrame) => broadcast(df)
    else identity[DataFrame] _
  }

  /** The prefix-filter pipeline from an already-prepped `(doc_id, sh,
    * hs)` frame — shared by [[nearDupJaccardExact]] (whole corpus) and
    * [[nearDupSimhash]]'s short-doc completeness net (a filtered
    * subset). Candidates are provably complete for `J ≥ tauNum/tauDen`
    * over whatever rows `hashed` holds. */
  private def jaccardPairsFromHashed(
      hashed: DataFrame,
      tauNum: Int,
      tauDen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Global order = (document frequency ASC, shingle) — the AllPairs
    // ordering: prefixes then hold each document's RAREST shingles, so
    // prefix buckets stay near-singleton and the self-join near-linear.
    // Any corpus-constant total order preserves completeness; lexicographic
    // order was measured 17× slower here because common shingles (shared
    // stopword bigrams) landed in every prefix and built quadratic buckets.
    val exploded = hashed.select(col("doc_id"),
      size(col("sh")).as("nsh"), explode(col("sh")).as("p"))
    val dfreq = exploded.groupBy("p").agg(count(lit(1)).as("df"))
    // prefix length |s| − ⌈τ|s|⌉ + 1, exact integer arithmetic (`div`)
    val prefLen = (col("nsh") - expr(
      s"(nsh * $tauNum + ${tauDen - 1}) div $tauDen").cast("int") + 1)
    // The prefix frame carries each doc's SORTED DISTINCT hash set along
    // with (nsh, rk, p): the lossless hash-Jaccard test then runs as a
    // RESIDUAL PREDICATE of the candidate join itself — junk pairs die in
    // the join stage after a (suffix-filter-grade, early-exiting) merge
    // walk, and never reach an exchange. The old shape aggregated 667k
    // candidate pairs (distinct → two broadcast joins → hash filter);
    // this one ships ~|prefix rows| × ~KB once and emits only true-ish
    // pairs. At corpus scales where duplicating the hash set per prefix
    // row outweighs the saved exchanges, split the hash test back out to
    // the per-pair tier — both orders are complete.
    val hsets = hashed.select(col("doc_id"),
      array_distinct(array_sort(col("hs"))).as("hset"))
    val pref = exploded.join(dfreq, Seq("p"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("p"))))
      .filter(col("rk") <= prefLen)
      .join(hsets, Seq("doc_id"))
      .select(col("doc_id"), col("nsh"), col("rk"), col("p"), col("hset"))
      .localCheckpoint(eager = true) // self-join reads it twice
    // PPJoin candidate join: besides the shared prefix element, apply the
    // LENGTH filter (J ≥ τ forces τ·|b| ≤ |a| ≤ |b|/τ), the POSITIONAL
    // filter — the first shared element at ranks (i, j) bounds achievable
    // overlap by 1 + min(|a|−i, |b|−j), which must reach the equivalent
    // overlap threshold α = ⌈τ/(1+τ)·(|a|+|b|)⌉ — and the LOSSLESS hash
    // pre-verify: Jaccard over the 64-bit hash SETS dominates Jaccard
    // over the shingle sets (true intersection elements always share
    // hashes; collisions only merge set elements, so J_hash ≥ J_true),
    // which makes `J_hash ≥ τ` a necessary condition. All three are
    // completeness-preserving (the first shared element always sits in
    // both prefixes once the length filter holds) and prune the quadratic
    // bucket work a degenerate small-vocabulary corpus would otherwise
    // produce: on the sf0.1 fixture the prefix join alone emits 784k rows
    // (667k distinct pairs) for 25 true pairs — the in-join hash test
    // leaves only the true pairs to reach the distinct.
    val alpha = expr(
      s"($tauNum * (x.nsh + y.nsh) + ${tauNum + tauDen - 1}) div ${tauNum + tauDen}")
    val cand = pref.as("x")
      .join(pref.as("y"),
        col("x.p") === col("y.p") && col("x.doc_id") < col("y.doc_id") &&
          col("y.nsh") * tauNum <= col("x.nsh") * tauDen &&
          col("x.nsh") * tauNum <= col("y.nsh") * tauDen &&
          alpha <= lit(1) + least(
            col("x.nsh") - col("x.rk"), col("y.nsh") - col("y.rk")) &&
          jaccardHashesGeUdf(tauNum, tauDen)(col("x.hset"), col("y.hset")))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // verify over PACKED sorted shingle sets: one ShingleSep-joined string
    // per doc instead of array<string> — the array form pays a UTF8String
    // decode per ELEMENT per candidate pair at the UDF boundary (~100
    // decodes/pair), which dominated verification; the packed form decodes
    // two strings per pair and merge-walks the segments. ShingleSep cannot
    // occur in shingles ([a-z0-9 ] alphabet), and segment order under the
    // walk equals array_sort's binary string order for ASCII. Survivors of
    // the in-join hash test (≈ true pairs + rare collision flukes) still
    // pass the full shingle-string verification — the exactness contract
    // is untouched. The per-doc packed side is |docs|×KB, so its
    // broadcast is GATED on the measured doc count ([[packedHint]]);
    // above the gate the verify is a shuffled equi-join on doc id.
    val tau = tauNum.toDouble / tauDen
    val packed = hashed.select(col("doc_id"),
      concat_ws(ShingleSep.toString, array_sort(col("sh"))).as("shp"))
    val hint = packedHint(hashed)
    cand
      .join(hint(packed.select(col("doc_id").as("doc_a"), col("shp").as("pa"))), Seq("doc_a"))
      .join(hint(packed.select(col("doc_id").as("doc_b"), col("shp").as("pb"))), Seq("doc_b"))
      .filter(jaccardPackedUdf(col("pa"), col("pb")) >= tau)
      .select(col("doc_a"), col("doc_b"))
  }

  /** `Jaccard ≥ tauNum/tauDen` over two SORTED DISTINCT long-hash arrays
    * — the cheap necessary-condition filter for [[nearDupJaccardExact]]'s
    * verify stage (8-byte compares, no string decode). Typed over
    * PRIMITIVE `Array[Long]`: the `Seq[Long]` signature boxes every
    * element at the UDF boundary (~10⁹ boxes across a 667k-candidate
    * verify — measured 2.5× slower than the packed-string walk it was
    * meant to beat), while the primitive signature converts with one bulk
    * array copy.
    *
    * The threshold test is EXACT integer arithmetic
    * (`J ≥ n/d ⟺ inter·(n+d) ≥ n·(|a|+|b|)`), which enables the
    * suffix-filter-grade EARLY EXIT: the merge walk bails the moment
    * `inter + min(remaining_a, remaining_b)` can no longer reach the
    * required overlap — junk pairs that diverge early cost a handful of
    * compares instead of a full walk, with zero completeness loss (the
    * bail condition certifies J < τ). */
  private def jaccardHashesGeUdf(
      tauNum: Int, tauDen: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (a: Array[Long], b: Array[Long]) =>
      val na = a.length; val nb = b.length
      val minInter = ((tauNum.toLong * (na + nb) + tauNum + tauDen - 1) /
        (tauNum + tauDen)).toInt
      var i = 0; var j = 0; var inter = 0
      while (i < na && j < nb &&
          inter + math.min(na - i, nb - j) >= minInter) {
        val x = a(i); val y = b(j)
        if (x == y) { inter += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
      inter >= minInter
    }

  /** Packed-shingle delimiter. U+0001 cannot occur in shingles (the
    * `[a-z0-9 ]` alphabet) and sorts below every shingle character, so the
    * merge walk preserves `array_sort` order. Written as an escape — a raw
    * control char in source is invisible in diffs and one formatter away
    * from silent corruption. `final` without a type annotation makes it a
    * compile-time constant: the UDF body inlines it instead of capturing
    * the enclosing object in its closure. */
  private final val ShingleSep = '\u0001'

  /** Merge-intersection COUNT over two packed (ShingleSep-delimited,
    * sorted, distinct) shingle strings — [[jaccardPackedUdf]]'s walk,
    * returning the raw intersection size for [[containmentPairs]]'s
    * asymmetric exact-integer threshold. */
  // The function is pure; asNondeterministic is an OPTIMIZER FENCE —
  // without it Catalyst collapses the inter projection into both its
  // consumers (the threshold filter and the ppm projection) and the
  // merge walk runs twice per candidate pair.
  private val interPackedUdf = (udf { (a: String, b: String) =>
    val la = a.length; val lb = b.length
    var i = 0; var j = 0; var inter = 0
    def segEnd(s: String, from: Int, len: Int): Int = {
      var e = from
      while (e < len && s.charAt(e) != ShingleSep) e += 1
      e
    }
    while (i < la && j < lb) {
      val ea = segEnd(a, i, la); val eb = segEnd(b, j, lb)
      var x = i; var y = j
      while (x < ea && y < eb && a.charAt(x) == b.charAt(y)) { x += 1; y += 1 }
      val c =
        if (x == ea && y == eb) 0
        else if (x == ea) -1
        else if (y == eb) 1
        else if (a.charAt(x) < b.charAt(y)) -1 else 1
      if (c == 0) { inter += 1; i = ea + 1; j = eb + 1 }
      else if (c < 0) i = ea + 1
      else j = eb + 1
    }
    inter
  }).asNondeterministic()

  /** Merge-intersection Jaccard over two packed (ShingleSep-delimited,
    * sorted, distinct) shingle strings — one linear walk, no per-element
    * object churn. */
  private val jaccardPackedUdf = udf { (a: String, b: String) =>
    val la = a.length; val lb = b.length
    var i = 0; var j = 0
    var na = 0; var nb = 0; var inter = 0
    def segEnd(s: String, from: Int, len: Int): Int = {
      var e = from
      while (e < len && s.charAt(e) != ShingleSep) e += 1
      e
    }
    while (i < la && j < lb) {
      val ea = segEnd(a, i, la); val eb = segEnd(b, j, lb)
      // compare segments a[i,ea) vs b[j,eb) char-wise
      var x = i; var y = j
      while (x < ea && y < eb && a.charAt(x) == b.charAt(y)) { x += 1; y += 1 }
      val c =
        if (x == ea && y == eb) 0
        else if (x == ea) -1
        else if (y == eb) 1
        else if (a.charAt(x) < b.charAt(y)) -1 else 1
      if (c == 0) { inter += 1; na += 1; nb += 1; i = ea + 1; j = eb + 1 }
      else if (c < 0) { na += 1; i = ea + 1 }
      else { nb += 1; j = eb + 1 }
    }
    while (i < la) { na += 1; i = segEnd(a, i, la) + 1 }
    while (j < lb) { nb += 1; j = segEnd(b, j, lb) + 1 }
    val union = na + nb - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Canonical-id assignment over near-dup PAIRS — the entity-resolution
    * step after any of the pair generators: connected components by
    * [[graft.graph.Analytics.connectedComponentsBounded]] run to
    * convergence (HashMin min-label rounds, each shipping only the
    * labels that changed; it stops on the first round that changes
    * none). Every id in `ids`, `doc_a` or `doc_b` gets `canon_id` = the
    * minimum id of its component (singletons and self-loop-only ids map
    * to themselves); filtering `id = canon_id` keeps one canonical
    * document per duplicate group.
    *
    * Cost against the GraphX Pregel CC this replaced, on the traced
    * `ingest` benchmark (seed 7, 4 cores): the component step went
    * 0.54 → 1.22 s and 6 → 24 Spark jobs, and the verdict read 20 → 35
    * jobs. Near-dup components are near-cliques, so they converge in a
    * few rounds of a few small jobs each.
    *
    * @param ids   one LONG id per document (column `doc_id`)
    * @param pairs near-dup pairs (`doc_a`, `doc_b`), e.g. from
    *              [[nearDupJaccardExact]] or [[nearDupMinhash]]
    * @return (doc_id, canon_id)
    */
  def dedupGroups(ids: DataFrame, pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("doc_a").cast("long").as("src"),
        col("doc_b").cast("long").as("dst"))
      .localCheckpoint(eager = true)
    val labels = Analytics.connectedComponentsBounded(edges,
        rounds = Int.MaxValue)
      .select(col("node_id").as("doc_id"), col("component"))
    // the kernel drops self-loops, so pair endpoints union back in
    ids.select(col("doc_id").cast("long").as("doc_id"))
      .union(edges.select(col("src")))
      .union(edges.select(col("dst")))
      .distinct()
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("canon_id"))
  }

  /** Canonical-DOCUMENT selection: collapse each [[dedupGroups]]
    * component to its best representative — the retention policy a
    * dedup pass actually ships (drop the copies, keep the highest-
    * quality one), not just the group labels. Winner per group =
    * highest `qualityCol` (an exact integer score — e.g. length,
    * q31's stats, or q75's LM score), ties to the SMALLEST id so the
    * choice is deterministic and both engines agree.
    *
    * Returns one row per group: `(canon_id, kept_doc, kept_quality,
    * n_docs, sum_quality)` — the audit view: what survived, what mass
    * the group held.
    *
    * Scale shape: groups ⨝ quality on the id (one equi-join), then a
    * per-group rank planned as WindowGroupLimit (at most one row per
    * group survives each map partition before the exchange) plus one
    * map-side-combined aggregate for the group totals — hot groups
    * never materialise. */
  def canonicalDocs(
      groups: DataFrame, // (doc_id, canon_id) from dedupGroups
      quality: DataFrame, // (doc_id, <qualityCol>)
      qualityCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = groups.join(quality, Seq("doc_id"))
    val best = joined
      .withColumn("__rk", row_number().over(Window.partitionBy("canon_id")
        .orderBy(desc(qualityCol), asc("doc_id"))))
      .filter(col("__rk") === 1)
      .select(col("canon_id"), col("doc_id").as("kept_doc"),
        col(qualityCol).as("kept_quality"))
    val totals = joined.groupBy("canon_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col(qualityCol)).as("sum_quality"))
    best.join(totals, Seq("canon_id"))
  }

  /** Leakage-safe train/val/test split assignment: every document of a
    * near-dup component ([[dedupGroups]]) lands in the SAME split,
    * because the split is drawn from the component's canonical id, not
    * the document's — the standard defence against test-set
    * contamination through near-duplicates (a copy of a training
    * document leaking into eval silently inflates every metric; see the
    * dedup analyses of Lee et al. 2021). Hash-based splits over `doc_id`
    * have exactly this failure mode; hashing `canon_id` removes it by
    * construction.
    *
    * The draw is `mix(canon_id) mod 10` over
    * [[graft.learn.DetRandom]] — buckets 0–7 train, 8 val, 9 test
    * (80/10/10 in expectation over GROUPS; the exact oracle replays the
    * arithmetic, q111). Singletons are their own component, so
    * un-duplicated corpora degrade to a plain deterministic hash split.
    *
    * Scale shape: a pure row-local projection over the groups frame —
    * no join, no exchange; whatever the component step cost is already
    * paid. */
  def leakSafeSplit(groups: DataFrame, seed: Long = 42L): DataFrame =
    groups.select(col("doc_id"), col("canon_id"),
        (graft.learn.DetRandom.mix(col("canon_id"), col("canon_id"), seed)
          % 10).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 8, lit("train"))
          .when(col("bucket") === 8, lit("val"))
          .otherwise(lit("test")))

  /** Signature frame for incremental/streaming dedup: one row per
    * (doc, band) with the banded MinHash key, plus the shingle set for the
    * exact verify — the unit a streaming ingest appends to its signature
    * store ([[graft.streaming.DocIngest]]). No checkpoint barrier: the
    * caller owns materialisation. */
  def signatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2,
      k: Int = 128,
      bands: Int = 32,
      rows: Int = 4,
      seed: Long = 42L): DataFrame =
    // NOT spread across cores (r19, measured): the shingle+minhash pass
    // is ~0.3 s per micro-batch at bench scale, while a 32-partition
    // signature checkpoint inflates every one of the lifecycle's ~50
    // downstream jobs by per-task overhead — the doc lifecycles ran
    // ~1.5× SLOWER spread (A/B in OPTIMIZATION_r19.md). The media
    // families, whose per-row kernels are 5–10× heavier, spread inside
    // MediaSynth instead.
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        prepUdf(n)(col(textCol)).as("p"))
      .select(col("doc_id"), col("p._1").as("sh"), col("p._2").as("hs"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("sh"),
        posexplode(minhashBandKeysUdf(k, bands, rows, seed)(col("hs")))
          .as(Seq("band", "key")))

  /** Shared prep: `(doc_id, sh, hs)` behind a checkpoint barrier. */
  /** Memoised per (canonicalised docs plan, id, text, n): MinHash, SimHash
    * and prefix-filter dedup all shingle the SAME corpus the same way, and
    * the eager checkpoint is per-DataFrame — without the memo each query
    * re-runs the tokenize→shingle→hash kernel over the whole corpus.
    * Source data is immutable for a session (same contract as the
    * dense-PK probe memo in GraphBuilder). */
  // Session-scoped via Memos (like Tables.load): equal canonical plans
  // from a second session in the same JVM must not resolve to
  // checkpointed frames of a stopped SparkContext.
  private[graft] def prep(
      docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    graft.functions.Memos.getOrElseUpdate(
      docs.sparkSession,
      ("shingle-prep",
        docs.queryExecution.analyzed.canonicalized, idCol, textCol, n))(
      docs.select(col(idCol).cast("long").as("doc_id"),
          prepUdf(n)(col(textCol)).as("p"))
        .select(col("doc_id"), col("p._1").as("sh"), col("p._2").as("hs"))
        .filter(size(col("sh")) > 0)
        .localCheckpoint(eager = true))

  /** Bucket self-join: distinct `(doc_a < doc_b)` pairs sharing any
    * (band, key). */
  private def candidatePairs(banded: DataFrame): DataFrame =
    banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

  /** Exact-verification join: attach both shingle sets, keep pairs with
    * true Jaccard ≥ tau. Candidate lists are tiny relative to the corpus,
    * so Catalyst broadcasts them into the two id-keyed joins. */
  def verifyJaccard(
      cand: DataFrame, sh: DataFrame, tau: Double): DataFrame =
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .filter(jaccard(col("sh_a"), col("sh_b")) >= tau)
      .select(col("doc_a"), col("doc_b"))

  /** Polynomial rolling-hash fingerprint (Rabin–Karp accumulator) over the
    * whitespace-normalised text: `acc ← (acc·31 + code(char)) mod (1e9+7)`.
    * Every intermediate stays far below 2⁶³, so Spark and any ANSI engine
    * agree bit-for-bit with no overflow semantics in play.
    *
    * JIT kernel UDF: the HOF formulation ([[rollingFingerprintHof]])
    * builds a per-character int array and runs the fold interpreted —
    * measured ~10× slower at fixture scale once the bench evaluates rows
    * for real. The kernel matches `ascii()` semantics (first CODE POINT of
    * the 1-char substring; supplementary chars use their code point). */
  def rollingFingerprint(text: Column): Column = rollingFpUdf(text)

  private val rollingFpUdf = udf { (text: String) =>
    if (text == null) 0L
    else {
      // \s+ → single space, matching regexp_replace(text, "\\s+", " ")
      val norm = java.util.regex.Pattern.compile("\\s+")
        .matcher(text).replaceAll(" ")
      var acc = 0L
      var i = 0
      val len = norm.length
      while (i < len) {
        val cp = norm.codePointAt(i)
        acc = (acc * 31L + cp) % 1000000007L
        i += Character.charCount(cp)
      }
      acc
    }
  }

  /** The pure-builtin formulation of [[rollingFingerprint]] — kept as the
    * semantic reference; the spec asserts equivalence on the fixture. */
  def rollingFingerprintHof(text: Column): Column = {
    val norm = regexp_replace(text, "\\s+", " ")
    when(length(norm) === 0, lit(0L)).otherwise(
      aggregate(
        transform(sequence(lit(1), length(norm)), i => ascii(norm.substr(i, lit(1)))),
        lit(0L),
        (acc, c) => (acc * 31L + c.cast("long")) % 1000000007L))
  }

  /** Cross-document exact substring duplication — the span-level dedup
    * tier (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", 2021; their suffix-array ExactSubstr, re-expressed as the
    * k-gram shuffle an engine can run): for every document, how much of
    * its token stream is covered by a k-token substring occurring more
    * than once in the CORPUS (elsewhere, or again in the same document).
    * One row per non-empty document: `n_tok`, `n_dup_starts` (duplicated
    * k-gram start positions), `covered_tok` (union length of their
    * [p, p+k-1] spans, merged exactly with one lag window), and `dup_ppm`
    * (integer parts-per-million of the document covered — the value a
    * removal/filter pass thresholds on).
    *
    * Scale shape: grams materialise as a per-row HOF `transform` over the
    * token array (each exploded row carries one k-token string, not the
    * whole array — no O(len²) payload), so the exchanges are exactly the
    * semantics' minimum: one on the gram key for the corpus-wide
    * occurrence count, then one on the doc key over DUPLICATED starts
    * only (a small fraction of the corpus). Gram identity is the exact
    * joined string so the DuckDB oracle replays byte-for-byte; at 100 TB
    * substitute an `xxhash64` pair (collision ~n²/2¹²⁹) to cut shuffle
    * bytes — the plan shape is unchanged. */
  def dupSpanStats(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 2, s"span length must be >= 2: $k")
    import org.apache.spark.sql.expressions.Window
    val base = spanBase(docs, idCol, textCol)
    val dup = dupStarts(base, idCol, k)
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("__i"))
    val prev = lag(col("__i"), 1).over(byDoc)
    val cov = dup
      .withColumn("__inc",
        when(prev.isNull, lit(k.toLong))
          .otherwise(least(lit(k.toLong), col("__i") - prev)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_dup_starts"), sum(col("__inc")).as("covered_tok"))
    base.select(col(idCol), col("__n").as("n_tok"))
      .join(cov, Seq(idCol), "left")
      .select(col(idCol), col("n_tok"),
        coalesce(col("n_dup_starts"), lit(0L)).as("n_dup_starts"),
        coalesce(col("covered_tok"), lit(0L)).as("covered_tok"))
      .withColumn("dup_ppm", expr("covered_tok * 1000000 div n_tok"))
  }

  /** Tokenised non-empty documents: `(id, __ts, __n)`. Repartitioned on
    * the id BEFORE tokenising: a small corpus is one scan partition, so
    * the per-gram HOF transform + posexplode downstream would run in one
    * task (FUZZ_AB_r8.md: q67 maxTask ≈ 0.6 × wall) — and the id hashing is
    * the distribution the per-doc window and final join need anyway, so
    * at scale the exchange is the one those operators would insert. */
  private def spanBase(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol), tokens(col(textCol)).as("__ts"))
      .withColumn("__n", size(col("__ts")).cast("long"))
      .filter(col("__n") > 0)

  /** Start positions (1-based `__i`) of k-grams occurring more than once
    * in the corpus — the shared front half of [[dupSpanStats]] and
    * [[dupSpanRemove]]. Grams materialise per-row via a HOF `transform`
    * (each exploded row carries one k-token string, never the whole
    * array); the corpus-wide occurrence count is the one gram-key
    * exchange. */
  private def dupStarts(base: DataFrame, idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = base
      .filter(col("__n") >= k)
      .select(col(idCol), posexplode(transform(
        sequence(lit(1), (col("__n") - (k - 1)).cast("int")),
        i => concat_ws(" ", slice(col("__ts"), i, lit(k))))))
      .select(col(idCol), (col("pos") + 1).as("__i"), col("col").as("__gram"))
    grams
      .withColumn("__c", count(lit(1)).over(Window.partitionBy(col("__gram"))))
      .filter(col("__c") > 1)
      .select(col(idCol), col("__i"))
  }

  /** Exact duplicated-span REMOVAL — the apply half of [[dupSpanStats]]
    * (Lee et al. 2021's ExactSubstr deduplication: cut every span of k
    * tokens that occurs more than once in the corpus out of the
    * documents). Per non-empty document: the original token count, the
    * kept token count, and the cleaned text (tokens outside every merged
    * duplicated interval, joined by single spaces — tokenisation is
    * [[tokens]], the same normal form the stats tier counts).
    *
    * The duplicated [p, p+k-1] spans are merged into maximal intervals
    * with one gaps-and-islands pass (lag + running sum over dup starts
    * only — a small fraction of the corpus), aggregated into a per-doc
    * interval LIST (merged intervals are few by construction: each is
    * ≥ k tokens and they are disjoint, so a doc holds at most
    * ⌈n_tok/(k+1)⌉); the cut itself is then a single index-aware HOF
    * `filter` over the token array — no second explode of the corpus,
    * no join back per token. Exact-integer everything; hash-exact
    * against the SQL oracle (q69). */
  def dupSpanRemove(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 2, s"span length must be >= 2: $k")
    import org.apache.spark.sql.expressions.Window
    val base = spanBase(docs, idCol, textCol)
    val dup = dupStarts(base, idCol, k)
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("__i"))
    val prev = lag(col("__i"), 1).over(byDoc)
    // islands: a start > prev + k opens a new merged interval (same-length
    // intervals ⇒ the running max end is prev + k - 1)
    val islands = dup
      .withColumn("__brk",
        when(prev.isNull || col("__i") - prev > k, lit(1L)).otherwise(lit(0L)))
      .withColumn("__grp", sum(col("__brk")).over(byDoc))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("__i")).as("lo"), (max(col("__i")) + (k - 1)).as("hi"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("lo"), col("hi")))).as("__iv"))
    base.join(islands, Seq(idCol), "left")
      .withColumn("__kept",
        when(col("__iv").isNull, col("__ts")).otherwise(
          filter(col("__ts"), (_, i) =>
            !exists(col("__iv"), s =>
              i + 1 >= s.getField("lo") && i + 1 <= s.getField("hi")))))
      .select(col(idCol), col("__n").as("n_tok"),
        size(col("__kept")).cast("long").as("n_kept"),
        concat_ws(" ", col("__kept")).as("clean_text"))
  }
}
