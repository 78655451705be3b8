package graft.operators

import graft.catalyst.{ShingleExprs, SimHash64}
import graft.functions.TextFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Near-duplicate detection over a document corpus — the LLM-training-data
  * dedup surface (MinHash+LSH, SimHash, n-gram Jaccard). Every operator
  * returns the EXACT pair set defined by its threshold (candidate
  * generation is a recall-1.0-by-construction prune, then an exact verify),
  * so results are independently checkable by a brute-force oracle.
  *
  * Internal representation: a document's shingle set is a sorted distinct
  * `array<long>` of shingle hashes (`graft.catalyst.ShingleHashes`) —
  * set sizes and intersection counts are what Jaccard needs, and longs
  * shuffle ~10× smaller than the shingle strings.
  */
object Dedup {

  /** Word n-gram shingles of a text column, distinct, as array<string> —
    * the human-readable form (kept for inspection APIs; the operators below
    * run on hashed shingles). */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = TextFunctions.tokens(text)
    val nShingles = size(toks) - (n - 1)
    // Built by zipping n shifted slices rather than slicing inside a
    // transform lambda: a lambda body that captures `toks` re-evaluates
    // the tokenizer once per shingle, not per row (the q73 finding,
    // COVERAGE.md scale notes). Here every lambda references only its own
    // variables; `toks` is evaluated n times per ROW.
    val parts = (0 until n).map(j => slice(toks, lit(j + 1), nShingles))
    val joined = parts.reduce((a, b) => zip_with(a, b, (x, y) => concat(x, lit(" "), y)))
    when(nShingles >= 1, array_distinct(joined))
      .otherwise(array().cast("array<string>"))
  }

  /** (id, sorted-distinct shingle-hash array, set size) per document.
    *
    * Persisted MEMORY_ONLY: every consumer evaluates the shingle table
    * 3-4× (posting/df-frequency/prefix branches plus BOTH sides of the
    * verify join), so tokenize+hash+sort would otherwise run that many
    * times over the corpus. MEMORY_ONLY deliberately, not the
    * MEMORY_AND_DISK default: memory blocks are LRU-evicted and then
    * RECOMPUTED, so under pressure this degrades to the uncached cost —
    * the AND_DISK level would instead spill every evicted block and never
    * free the disk. The persist is registered with [[graft.CacheScope]]:
    * harness callers release it deterministically after materializing the
    * consuming query, so repeated invocations don't accumulate cached
    * tables for the session's lifetime (a cluster deployment would persist
    * this stage to storage explicitly instead). */
  private def shingled(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    graft.CacheScope.track(docs
      .select(col(idCol).as("_id"),
        ShingleExprs.shingleHashes(TextFunctions.tokens(col(textCol)), n).as("_sh"))
      .withColumn("_setSize", size(col("_sh")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY))

  /** Exact-verify a candidate pair set: re-attach both shingle arrays,
    * count the intersection with one linear merge, keep pairs at/above the
    * Jaccard threshold. */
  private def verifyJaccard(cand: DataFrame, sh: DataFrame, minJaccard: Double): DataFrame =
    cand
      .join(sh.select(col("_id").as("id_a"), col("_sh").as("_shA"), col("_setSize").as("_sa")), Seq("id_a"))
      .join(sh.select(col("_id").as("id_b"), col("_sh").as("_shB"), col("_setSize").as("_sb")), Seq("id_b"))
      .withColumn("_shared", ShingleExprs.intersectCountSorted(col("_shA"), col("_shB")))
      .withColumn("jaccard",
        col("_shared").cast("double") /
          (col("_sa") + col("_sb") - col("_shared")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")

  /** Exact n-gram Jaccard near-dup pairs: all (idA < idB) document pairs
    * with `|shingles(A) ∩ shingles(B)| / |shingles(A) ∪ shingles(B)| >= minJaccard`.
    *
    * Distributed ALL-PAIRS prefix filtering (Bayardo et al., WWW 2007;
    * Xiao et al. PPJoin): order shingles globally by (document frequency,
    * hash) — rarest first — and index only each document's PREFIX of
    * `|A| - ceil(τ·|A|) + 1` shingles. Any pair with J >= τ has overlap
    * >= τ/(1+τ)(|A|+|B|) >= ceil(τ·|A|) (given the length filter
    * τ·|A| <= |B|), so the two prefixes must share a shingle: recall is
    * exactly 1.0 while the candidate join runs over rare shingles only —
    * the frequent-shingle df² blowup of a naive inverted-index join never
    * happens. Shuffles: posting df agg, prefix self-join, pair dedup,
    * verify joins — all equi-joins/aggs that scale out on keys.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minJaccard: Double): DataFrame = {
    val sh = shingled(docs, idCol, textCol, n)
    val posting = sh.select(col("_id"), col("_setSize"), explode(col("_sh")).as("_g"))
    val dfreq = posting.groupBy("_g").agg(count(lit(1)).as("_df"))
    val prefixLen = (col("_setSize") - ceil(lit(minJaccard) * col("_setSize")) + 1).cast("int")
    // r16 probe note (guide §3.2): pruning prefix rows whose shingle has
    // df = 1 (they cannot witness a pair) was measured at sf0.1 and kept
    // only 0.1% MORE rows out — this corpus's narrow vocabulary makes
    // 3-gram shingles repeat almost universally, so the Zipfian hapax
    // mass the filter targets does not exist here; left unchanged.
    val prefix = posting
      .join(dfreq, Seq("_g"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("_id")).orderBy(col("_df"), col("_g"))))
      .filter(col("_rn") <= prefixLen)
      .select("_g", "_id", "_setSize", "_rn")
    val a = prefix.select(col("_g"), col("_id").as("id_a"), col("_setSize").as("_sa0"), col("_rn").as("_pa"))
    val b = prefix.select(col("_g"), col("_id").as("id_b"), col("_setSize").as("_sb0"), col("_rn").as("_pb"))
    // PPJoin positional filter (Xiao et al.): a J >= τ pair needs overlap
    // α = ceil(τ/(1+τ)(|A|+|B|)); at the FIRST shared prefix element all α
    // overlap lies at/after positions (pa, pb), so
    // 1 + min(|A|-pa, |B|-pb) >= α must hold — exact (recall 1.0 via the
    // first occurrence; pair-dedup keeps any surviving occurrence).
    val alpha = ceil(lit(minJaccard / (1 + minJaccard)) * (col("_sa0") + col("_sb0")))
    val cand = a.join(b, Seq("_g"))
      .filter(col("id_a") < col("id_b") &&
        col("_sb0") >= col("_sa0") * minJaccard &&
        col("_sb0") <= col("_sa0") / minJaccard &&
        lit(1) + least(col("_sa0") - col("_pa"), col("_sb0") - col("_pb")) >= alpha)
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    verifyJaccard(cand, sh, minJaccard)
  }

  /** MinHash signature over hashed shingles — kept public for the sketch
    * API surface; `numPerms` mixed permutations in one pass. */
  def minhashSignature(shingleHashes: Column, numPerms: Int): Column =
    ShingleExprs.minhashSig(shingleHashes, numPerms)

  /** MinHash+LSH near-dup pairs with exact verification.
    *
    * Pipeline (shingle → minhash → band → bucket-join → exact verify):
    *   1. signature of `numPerms` minhashes per doc (single pass over the
    *      hashed shingle set);
    *   2. LSH with 1-row bands: candidate pairs = docs agreeing on ANY
    *      signature position. P(miss | J) = (1-J)^numPerms — at J >= 0.6,
    *      numPerms = 16: 4e-7, so the prune loses nothing in practice
    *      while cutting the verify stage far below N²;
    *   3. exact Jaccard on candidates via one sorted-merge intersection
    *      count per pair (output is the exact pair set, not the minhash
    *      estimate).
    */
  def minhashLshPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minJaccard: Double,
      numPerms: Int = 16): DataFrame = {
    val sh = shingled(docs, idCol, textCol, n)
    // Signatures travel WITHOUT the shingle arrays: the ×numPerms explode
    // would otherwise multiply the array bytes through the shuffle. Arrays
    // are re-attached only to the (much smaller) deduped candidate set.
    val sig = sh.select(col("_id"),
      posexplode(ShingleExprs.minhashSig(col("_sh"), numPerms)).as(Seq("_band", "_mh")))
    val a = sig.select(col("_band"), col("_mh"), col("_id").as("id_a"))
    val b = sig.select(col("_band"), col("_mh"), col("_id").as("id_b"))
    val cand = a.join(b, Seq("_band", "_mh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    verifyJaccard(cand, sh, minJaccard)
  }

  /** Connected components over a near-duplicate pair graph: every node
    * gets the MINIMUM id reachable from it (`rep`) — the canonical
    * representative of its duplicate cluster, i.e. the "keep one copy"
    * step after pair detection.
    *
    * Label propagation to fixpoint: each round joins current labels
    * across the (symmetrized) edge set, keeps the per-node minimum, then
    * POINTER-JUMPS (label := label of label) — path compression halves
    * the remaining distance to each component's minimum, so rounds are
    * O(log diameter), not O(diameter): a 1,000-link chain of
    * near-duplicates (a real crawl artifact) converges in ~10 rounds
    * where plain propagation needs 1,000. The previous label travels
    * through the round's aggregation as a `_prev` column, so the
    * convergence count is a filter over already-checkpointed output —
    * not an extra join+shuffle. The jump join probes a unique-keyed
    * label table; giant components make the probe side skewed on `_rep`
    * (AQE skew-join splits it). If the cap is somehow hit before
    * fixpoint the labels are WRONG (nodes farther than the compressed
    * reach keep a stale rep), so this throws rather than silently
    * returning them. The round loop is [[Iterate.fixpoint]].
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 64): DataFrame = {
    graft.CacheScope.retained { hold =>
      val (edges, round0) = graft.CacheScope.retained { raw =>
        // symmetrize via explode, NOT a self-union: a union evaluates the
        // whole upstream pair plan twice (for q45/q46/q55 that plan is the
        // full candidate+verify join), explode doubles rows in one pass
        val e0 = raw(pairs
          .select(explode(array(
            struct(col(aCol).as("_x"), col(bCol).as("_y")),
            struct(col(bCol).as("_x"), col(aCol).as("_y")))).as("_e"))
          .select(col("_e._x").as("_x"), col("_e._y").as("_y"))
          .distinct()
          .cache())
        // the Graph-family loop frame: the symmetric edge list pinned on
        // the per-round join key (_y), so each round's propagate join
        // re-shuffles and re-sorts only the V-row label side
        val edges = hold(Iterate.pin(e0, Iterate.partitions(e0, Graph.RowsPerTask), "_y"))
        // Each round references the previous labels twice (carry +
        // propagate), so without lineage truncation the logical plan
        // doubles per round — 2^rounds analysis blow-up on high-diameter
        // graphs (found by probing a 39-node path). Round 0's checkpoint
        // also materializes `edges`: after it the raw copy is dead weight.
        (edges, Iterate.checkpoint(edges.select(col("_x").as("_id")).distinct()
          .withColumn("_rep", col("_id"))))
      }
      val repType = round0.df.schema("_rep").dataType
      // r15 (the bradleyTerry/pageRank hint): the label frame is V-sized —
      // broadcast it into the propagate join and the pointer-jump lookup
      // while model-sized, so a round re-shuffles neither the cached |E|
      // side nor the V-side. V is the round-0 checkpoint's count (cheap —
      // materialized blocks) and constant across rounds. Byte-aware since
      // r16 (VERDICT r15 item 3): `_rep` is CALLER-typed — 2M wide-string
      // doc ids would be hundreds of MB per round's broadcast, so the test
      // measures string bytes over the already-checkpointed round-0 frame
      // (one cheap agg; skipped entirely for integral ids).
      val hint = ModelSized.hint(round0.df.select("_id", "_rep"), round0.df.count())
      Iterate.fixpoint(round0, maxRounds, "connectedComponents") { current =>
        val labels = current.select("_id", "_rep")
        val viaNeighbors = edges
          .join(hint(labels.withColumnRenamed("_id", "_y2")), col("_y") === col("_y2"))
          .select(col("_x").as("_id"), col("_rep"), lit(null).cast(repType).as("_prev"))
        // cache: the jump self-join below consumes `propagated` twice —
        // uncached, the whole edges-join + aggregation would execute twice
        // per round (exchange reuse is not guaranteed under AQE)
        graft.CacheScope.retained { roundHold =>
          val propagated = roundHold(
            labels.select(col("_id"), col("_rep"), col("_rep").as("_prev"))
              .unionByName(viaNeighbors)
              .groupBy("_id")
              .agg(min(col("_rep")).as("_rep"), max(col("_prev")).as("_prev"))
              .cache())
          // pointer jump: _rep := _rep(_rep). Every rep value is itself a node
          // (labels start as self-ids and only node ids propagate), so the
          // lookup side is unique-keyed; left join guards the identity case.
          Iterate.checkpoint(propagated
            .join(hint(propagated.select(col("_id").as("_rid"), col("_rep").as("_rrep"))),
              col("_rep") === col("_rid"), "left")
            .select(col("_id"), coalesce(col("_rrep"), col("_rep")).as("_rep"), col("_prev")))
        }
      } { next =>
        next.filter(col("_rep") =!= col("_prev")).count() // scans checkpointed blocks only
      }
    }.select(col("_id").as("id"), col("_rep").as("rep"))
  }

  /** Near-dup-aware train/valid/test split: assign every document's
    * split from a content hash of its near-dup CLUSTER representative,
    * not of the document itself — so two near-duplicates can never land
    * in different splits (the leakage failure mode the q111 audit
    * measures: a test doc whose near-twin sits in train). Pairs come
    * from [[ngramJaccardPairs]], clusters from [[connectedComponents]],
    * the split from [[Relational.hashSplit]]'s md5 bucket of the
    * representative id; singleton docs are their own representative.
    *
    * Note the representative is the cluster's MIN id, so adding a new
    * smaller-id member can re-key an existing cluster (and re-draw its
    * split) — within a snapshot the guarantee is absolute, across
    * snapshots it holds for clusters whose membership is stable.
    *
    * Output: every input column + `cluster_rep` + `split`. */
  def dedupAwareSplit(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minJaccard: Double, cuts: Seq[(String, Int)]): DataFrame = {
    val cc = connectedComponents(
      ngramJaccardPairs(docs, idCol, textCol, n, minJaccard), "id_a", "id_b")
    val withRep = docs
      .join(cc.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("cluster_rep", coalesce(col("rep"), col(idCol)))
      .drop("rep")
    Relational.hashSplit(
        withRep.withColumn("_sk", col("cluster_rep").cast("string")), "_sk", cuts)
      .drop("_sk")
  }

  /** SimHash near-dup pairs: all (idA < idB) pairs with
    * hamming(simhash64(tokens A), simhash64(tokens B)) <= maxHamming.
    *
    * Candidate generation is pigeonhole-exact: the 64-bit sketch is split
    * into `maxHamming + 1` chunks; two sketches within `maxHamming` bits
    * MUST agree on at least one whole chunk, so joining on
    * (chunkIndex, chunkValue) has recall exactly 1.0. Verify = cheap
    * bit_count on the pair. One explode (×(h+1)) + one equi-join shuffle.
    */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int): DataFrame = {
    // >= 64 would make non-final chunks 0 bits wide (constant 0) — the
    // candidate join degenerates to an N² cross product with no error
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming in [0, 63]")
    val nChunks = maxHamming + 1
    val chunkBits = 64 / nChunks
    val sh = docs.select(
      col(idCol).as("_id"),
      SimHash64(TextFunctions.tokens(col(textCol))).as("_h"))
    val chunks = sh.select(col("_id"), col("_h"),
      posexplode(array((0 until nChunks).map { c =>
        // chunk c = bits [c*chunkBits, (c+1)*chunkBits) (last chunk takes the remainder)
        val hi = if (c == nChunks - 1) 64 else (c + 1) * chunkBits
        val width = hi - c * chunkBits
        val mask = if (width == 64) -1L else (1L << width) - 1L
        shiftrightunsigned(col("_h"), c * chunkBits).bitwiseAND(lit(mask))
      }: _*)).as(Seq("_chunk", "_cv")))
    val a = chunks.select(col("_chunk"), col("_cv"), col("_id").as("id_a"), col("_h").as("_ha"))
    val b = chunks.select(col("_chunk"), col("_cv"), col("_id").as("id_b"), col("_h").as("_hb"))
    a.join(b, Seq("_chunk", "_cv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("_ha").bitwiseXOR(col("_hb"))).cast("int").as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** Incremental exact dedup against a persisted fingerprint store — the
    * production shape of [[graft.operators.Relational.keepFirstBy]]: the
    * historical corpus was deduped yesterday and exists only as its
    * md5-fingerprint table (never rescanned, never re-shuffled as text);
    * today's increment keeps exactly the rows that are (a) new against
    * history and (b) first within the increment itself. Output:
    * `(id, fp)` per kept row — union `fp` into the store for tomorrow.
    *
    * 100-TB shape: one md5 projection over the increment, a LEFT ANTI
    * join against the store on the 32-byte digest (shuffles digests,
    * not documents — at truly history-scale stores this is the honest
    * shuffle; a small store broadcasts by size estimate), then the
    * keep-first aggregation WITHIN the increment (map-side `min_by`).
    * Nothing ever touches historical text. Null text fingerprints as
    * the empty string: `md5(null)` is null, and a null digest can never
    * match the store (SQL null ≠ null in the anti join) — every later
    * day's null-text rows would be "new" forever, breaking the
    * incremental == from-scratch invariant and accreting null fps. */
  def incrementalDedup(
      increment: DataFrame,
      idCol: String,
      textCol: String,
      seenFps: DataFrame,
      fpCol: String): DataFrame = {
    val inc = increment
      .select(col(idCol), md5(coalesce(col(textCol), lit(""))).as("_fp"))
      .join(seenFps.select(col(fpCol).as("_fp")), Seq("_fp"), "left_anti")
    inc.groupBy("_fp").agg(min(col(idCol)).as(idCol))
      .select(col(idCol), col("_fp").as("fp"))
  }

  /** Incremental NEAR-dup against a hashed-shingle store —
    * [[incrementalDedup]]'s sibling for near duplicates: the historical
    * corpus was shingled yesterday and exists only as
    * `(id, sorted distinct 60-bit shingle-hash array)` rows; today's
    * increment is flagged when its word n-gram Jaccard against ANY
    * historical document reaches `minJaccard`. Output:
    * `(inc_id, hist_id, jaccard)` — historical TEXT is never rescanned,
    * never reshuffled; the store row for a kept increment doc (its own
    * shingle array) is what tomorrow's store unions in.
    *
    * 100-TB shape: both sides explode to (shingle-hash, id) postings and
    * meet in ONE equi-join on the hash (the crossContamination posting
    * discipline, pointed at a store): intersection sizes fall out of the
    * post-join (inc, hist) count aggregation — shingle sets are DISTINCT
    * per doc, so the join-row count per pair IS the intersection — set
    * sizes ride as per-doc lengths, and the Jaccard threshold prunes
    * before output. Candidate volume = shared-shingle postings only; no
    * pair enumeration, no store self-join. In production the store lives
    * pre-bucketed by hash (the physical-layout surface), so only the
    * increment shuffles. */
  def incrementalNearDup(
      increment: DataFrame, idCol: String, textCol: String,
      store: DataFrame, histIdCol: String, shinglesCol: String,
      n: Int, minJaccard: Double): DataFrame = {
    require(n >= 1, "n >= 1")
    require(minJaccard > 0 && minJaccard <= 1, "minJaccard in (0, 1]")
    val inc = increment.select(col(idCol).as("_iid"),
        ShingleExprs.shingleHashes(TextFunctions.tokens(col(textCol)), n).as("_s"))
      .select(col("_iid"), size(col("_s")).as("_na"), explode(col("_s")).as("_g"))
    val hist = store.select(col(histIdCol).as("_hid"),
      size(col(shinglesCol)).as("_nb"), explode(col(shinglesCol)).as("_g"))
    inc.join(hist, Seq("_g"))
      .groupBy("_iid", "_hid", "_na", "_nb").agg(count(lit(1)).as("_inter"))
      .withColumn("jaccard", col("_inter").cast("double") /
        (col("_na") + col("_nb") - col("_inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("_iid").as("inc_id"), col("_hid").as("hist_id"), col("jaccard"))
  }

  /** Pairwise corpus overlap between sources — the dataset-governance
    * question "how much does source A share with source B?" answered as
    * exact n-gram-shingle Jaccard per unordered source pair: distinct
    * shingle-set sizes, intersection, union, and a micro-quantized
    * Jaccard. Pairs with an empty intersection are omitted (an inner
    * join on the shingle key — absent pair ⇒ overlap 0).
    *
    * Distributed shape: one scan explodes hashed shingles, deduped per
    * (source, shingle) by a keyed distinct (map-side partial dedup —
    * never a per-source collect); the table is persisted
    * ([[graft.CacheScope]] contract) for its three consumers (sizes +
    * both sides of the pair join). The self-join key is the shingle
    * hash, whose per-key row count is bounded by the number of sources —
    * candidate blowup is structurally impossible; the tiny per-source
    * size table broadcasts. Docs shorter than `n` tokens contribute no
    * shingles (and a source of only such docs, no rows). */
  def sourceOverlap(docs: DataFrame, groupCol: String, textCol: String,
      n: Int): DataFrame = {
    // AND_DISK (not the shingled-table MEMORY_ONLY): this cache sits
    // AFTER the distinct's shuffle, so an evicted block recomputes a
    // whole exchange, not a cheap projection — spilling is the lesser cost
    val sh = graft.CacheScope.track(
      docs.select(col(groupCol).as("_grp"),
          explode(ShingleExprs.shingleHashes(
            TextFunctions.tokens(col(textCol)), n)).as("_g"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val sizes = sh.groupBy(col("_grp")).agg(count(lit(1)).as("_sz"))
    val inter = sh.select(col("_grp").as("source_a"), col("_g"))
      .join(sh.select(col("_grp").as("source_b"), col("_g")), Seq("_g"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("intersection"))
    inter
      .join(broadcast(sizes.select(col("_grp").as("source_a"), col("_sz").as("size_a"))),
        Seq("source_a"))
      .join(broadcast(sizes.select(col("_grp").as("source_b"), col("_sz").as("size_b"))),
        Seq("source_b"))
      .withColumn("union_size", col("size_a") + col("size_b") - col("intersection"))
      .withColumn("jaccard_micro",
        round(lit(1e6) * col("intersection").cast("double") /
          col("union_size").cast("double")).cast("long"))
      .select(col("source_a"), col("source_b"), col("size_a"), col("size_b"),
        col("intersection"), col("union_size"), col("jaccard_micro"))
  }

  /** MinHash-sketch estimate of [[sourceOverlap]] — the 100-TB path: the
    * per-source signature is the coordinate-wise MIN of the per-document
    * signatures (min over docs of min over doc shingles = min over the
    * source's shingle UNION, the exact set [[sourceOverlap]] measures),
    * so the whole corpus reduces map-side to numPerms longs per source
    * and the shuffle carries sources×numPerms rows — no shingle-grain
    * shuffle at any point, state bounded regardless of corpus size.
    * `jaccard_est` = matching-coordinate fraction; expected error
    * ~ sqrt(J(1−J)/numPerms). Every unordered source pair is emitted
    * (unlike the exact operator, a zero-overlap pair appears with its
    * estimate, almost surely 0). Docs below `n` tokens are filtered
    * before sketching (their empty-set signature is the all-MaxValue
    * sentinel, which would otherwise fake agreement between two
    * shingle-less sources). */
  def sourceOverlapMinhash(docs: DataFrame, groupCol: String, textCol: String,
      n: Int, numPerms: Int = 256, seed: Long = 42L): DataFrame = {
    val sig = docs
      .select(col(groupCol).as("_grp"),
        ShingleExprs.shingleHashes(TextFunctions.tokens(col(textCol)), n).as("_sh"))
      .filter(size(col("_sh")) >= 1)
      .select(col("_grp"),
        posexplode(ShingleExprs.minhashSig(col("_sh"), numPerms, seed))
          .as(Seq("_perm", "_h")))
      .groupBy(col("_grp"), col("_perm")).agg(min(col("_h")).as("_h"))
    sig.select(col("_grp").as("source_a"), col("_perm"), col("_h").as("_ha"))
      .join(sig.select(col("_grp").as("source_b"), col("_perm"), col("_h").as("_hb")),
        Seq("_perm"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg((sum(when(col("_ha") === col("_hb"), 1L).otherwise(0L)).cast("double") /
        count(lit(1)).cast("double")).as("jaccard_est"))
  }

  /** Eval-set decontamination: every (corpus doc, eval doc) pair sharing
    * at least `minShared` distinct word n-gram shingles — the standard
    * train/test-overlap sweep run before training (flagged corpus docs
    * are dropped or their spans masked so benchmarks stay honest).
    * Output: `(doc_id, eval_id, shared_ngrams)`, exact by construction.
    *
    * 100-TB shape: the eval set is model-sized next to the corpus, so
    * its exploded (shingle, eval_id) posting list BROADCASTS — the
    * corpus is scanned once, never shuffled; only rows that actually hit
    * an eval shingle reach the (doc, eval) count aggregation (map-side
    * combinable). No posting-list self-join, no df computation: unlike
    * near-dup pairs, the probe side is fixed and small. Shingle sets are
    * distinct per doc (ShingleHashes), so the post-join row count per
    * (doc, eval) IS the distinct shared-shingle count. */
  def crossContamination(
      corpus: DataFrame,
      corpusId: String,
      corpusText: String,
      evalSet: DataFrame,
      evalId: String,
      evalText: String,
      n: Int,
      minShared: Int): DataFrame = {
    require(minShared >= 1, "minShared >= 1")
    def posting(df: DataFrame, id: String, text: String, as: String) = df
      .select(col(id).as(as),
        explode(ShingleExprs.shingleHashes(TextFunctions.tokens(col(text)), n)).as("_g"))
    posting(corpus, corpusId, corpusText, "doc_id")
      .join(broadcast(posting(evalSet, evalId, evalText, "eval_id")), Seq("_g"))
      .groupBy("doc_id", "eval_id")
      .agg(count(lit(1)).as("shared_ngrams"))
      .filter(col("shared_ngrams") >= minShared)
  }

  /** Quality-aware near-dup retention: within every near-duplicate
    * CLUSTER (connected component of the exact n-gram Jaccard pair
    * graph), keep the row maximal under (`qualityCol` DESC, id ASC) —
    * the curation-grade dedup rule. Every other dedup in this engine
    * keeps first-seen/lowest-id; real pipelines keep the BEST copy (the
    * longer extraction, the higher quality score, the cleaner crawl) and
    * drop its near-duplicates, which requires the full component, not
    * just the pair (A~B, B~C: keeping per-pair could keep A and C, two
    * near-dups of each other once B is gone).
    *
    * Composes [[ngramJaccardPairs]] (All-Pairs prefix-filtered, never
    * N²) and [[connectedComponents]] (pointer-jump, O(log diameter)
    * rounds); the retention itself is one per-component min-struct
    * aggregation + a semi join of the survivors — both pair-set-sized,
    * never corpus-shaped. Rows in no pair survive unconditionally.
    * Output: every input column + `cluster_rep` (the component's
    * minimum id; a singleton's own id). `qualityCol` must be numeric.
    */
  def dedupKeepBest(docs: DataFrame, idCol: String, textCol: String,
      qualityCol: String, n: Int, minJaccard: Double): DataFrame = {
    val pairs = ngramJaccardPairs(docs, idCol, textCol, n, minJaccard)
    val comps = connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("id", "_cid").withColumnRenamed("rep", "_rep")
    val withComp = docs.join(comps, col(idCol) === col("_cid"), "left")
      .withColumn("cluster_rep", coalesce(col("_rep"), col(idCol)))
      .drop("_cid", "_rep")
    // argmax(quality desc, id asc) == lexicographic min of (-quality, id)
    val keep = withComp.groupBy(col("cluster_rep").as("_kr"))
      .agg(min_by(col(idCol),
        struct((-col(qualityCol)).as("_nq"), col(idCol).as("_i"))).as("_keep"))
    withComp.join(keep,
        col("cluster_rep") === col("_kr") && col(idCol) === col("_keep"), "left_semi")
  }

  /** Train/eval split-leakage audit: the near-dup pairs that CROSS a
    * content-hash split — the contamination a hash split cannot prevent
    * by construction (exact duplicates share an md5 and land together;
    * near-duplicates hash independently, so τ-similar pairs straddle the
    * train/test boundary at roughly the 1 − Σ fᵢ² background rate) and
    * the number a training run must audit before trusting its eval.
    *
    * Composes two audited primitives verbatim: the exact All-Pairs
    * n-gram Jaccard pair set ([[ngramJaccardPairs]] — prefix + positional
    * filtered, never N²) and the content-addressed split
    * ([[Relational.hashSplit]]). The split attach is two equi-joins of
    * the (small) pair set against the per-doc split projection — at
    * 100 TB the pair side is the dedup output (orders of magnitude below
    * corpus scale), so both joins shuffle pairs, not the corpus.
    *
    * Output: `id_a, id_b, jaccard, split_a, split_b` with
    * `split_a != split_b` — empty is the desired audit result.
    */
  def splitLeakage(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      cuts: Seq[(String, Int)],
      n: Int,
      minJaccard: Double): DataFrame = {
    val pairs = ngramJaccardPairs(docs, idCol, textCol, n, minJaccard)
    val splits = graft.operators.Relational
      .hashSplit(docs.select(col(idCol), col(textCol)), textCol, cuts)
      .select(col(idCol).as("_sid"), col("split"))
    pairs
      .join(splits.select(col("_sid").as("id_a"), col("split").as("split_a")), Seq("id_a"))
      .join(splits.select(col("_sid").as("id_b"), col("split").as("split_b")), Seq("id_b"))
      .filter(col("split_a") =!= col("split_b"))
      .select("id_a", "id_b", "jaccard", "split_a", "split_b")
  }

  /** Exact-substring dedup coverage (the last prominent LLM dedup grain —
    * r12 verdict item 7): for every document, the maximal character spans
    * covered by corpus-repeated substrings of length >= `minLen` — the
    * exact removal set of an ExactSubstr dedup pass (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better", which
    * drops every character inside any substring >= 50 chars occurring
    * twice in the corpus). Winnowing (q117/q119) only GUARANTEES
    * detection for runs >= w+k−1 at its fingerprint density; this is the
    * exact-grain complement.
    *
    * Definition: position p of doc d is covered iff the `minLen`-gram
    * starting at p occurs >= 2 times corpus-wide (any documents, same
    * document included — Lee et al. count intra-doc repeats). A substring
    * of length >= minLen repeats iff all its minLen-windows repeat, so
    * the union of repeated substrings' characters = the union of covered
    * windows, and the output spans are the maximal runs of consecutive
    * covered positions, widened by the window length: `(doc_id,
    * start_pos, span_len)` (1-based, code-point grain — both engines'
    * substring/length semantics).
    *
    * Distributed shape (the sort-based plan, no suffix explosion,
    * HASH-BANDED since r14 — candidates-then-verify, the same contract as
    * the near-dup family): ONE scan explodes stride-1 minLen-grams and
    * immediately projects each down to its 64-bit `xxhash64` (generate +
    * project + hash fuse in one codegen stage, so neither the carried
    * text nor any raw gram reaches the banding exchanges):
    *
    *  1. CANDIDATES — a keyed gram-HASH count (map-side combined; the
    *     exchange carries an 8-byte key + count, not minLen chars) keeps
    *     the hashes occurring >= 2 times; a semi-join of the (id, pos,
    *     hash) position stream against them shuffles ~(8 + id + pos)
    *     bytes/row — the ~minLen× → ~20-byte/row collapse that makes the
    *     pass 100-TB-shaped (at minLen=40 the raw-gram plan shuffles
    *     ~4 PB for a 100 TB corpus; this one ~2× corpus bytes).
    *  2. VERIFY — 64-bit collisions are guaranteed at corpus scale
    *     (birthday bound ~2^32 grams; a 100 TB corpus holds ~10^14), so
    *     candidate positions re-derive their RAW gram by joining back to
    *     the documents table on doc id (text crosses an exchange exactly
    *     once, at 1× corpus bytes — the join re-co-locates text with its
    *     candidate positions; AQE broadcasts the candidate side when
    *     small) and the exact repeat test reruns on raw grams WITHIN the
    *     candidate set only. A raw gram repeats iff its hash repeats, so
    *     every position of every truly-repeated gram is in the candidate
    *     set and in-candidate counts equal global counts: the output is
    *     IDENTICAL to the unbanded plan, bit for bit.
    *
    * The island merge is a per-document window (doc-keyed shuffle,
    * candidate-row sized). Verify-stage shuffle width is minLen bytes ×
    * CANDIDATE rows (true repeats + vanishing collisions) — the output-
    * sensitive cost every candidates-then-verify operator in this engine
    * pays, not a corpus-sized constant. */
  def exactSubstringSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int): DataFrame = {
    require(minLen >= 2, "minLen >= 2")
    val base = docs
      .select(col(idCol).as("_id"), col(textCol).as("_t"))
      .filter(length(col("_t")) >= minLen) // sequence(1, <1) would DESCEND
    // (id, pos, gramHash) — gram hashes come from ONE O(L·minLen) pass
    // per document ([[graft.catalyst.GramHashes64]], r16): the r15
    // sequence+substr+xxhash64 form re-walked the text from byte 0 for
    // every position (UTF8String.substring is code-point addressed), an
    // O(L²)-per-document cost that dominated the gram stage; the
    // expression emits bit-identical xxhash64 values (spec-pinned).
    // CACHED since r16 (guide §1.2/§2.4; OPTIMIZATION_r16.md §3): the frame
    // feeds the repeat-count aggregation AND the candidate semi-join
    // probe side — uncached, the gram pass over the corpus ran twice.
    // 20 B/row, MEMORY_ONLY (evict ⇒ recompute, the shingled contract).
    val hashed = graft.CacheScope.track(base
      .select(col("_id"),
        posexplode(graft.catalyst.GramExprs.gramHashes64(col("_t"), minLen))
          .as(Seq("_p0", "_h")))
      .select(col("_id"), (col("_p0") + 1).as("_p"), col("_h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY))
    // The repeated-hash set is OUTPUT-sized (distinct grams occurring
    // twice — at any healthy dedup rate, orders of magnitude below the
    // position stream). Cache + count it (trivial rows; the agg itself
    // must run either way) and broadcast-hint the semi join while
    // model-sized: the planner sees only an aggregation with no size
    // statistic and would exchange the WHOLE position stream for a
    // sort-merge semi join (AQE converts only after that exchange has
    // run). Past the byte-aware bound — a corpus where repeats ARE
    // corpus-scale — the shuffle plan stands.
    val repeatedHash = graft.CacheScope.track(
      hashed.groupBy("_h").agg(count(lit(1)).as("_c"))
        .filter(col("_c") >= 2).select("_h")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY))
    val rhHint = ModelSized.hint(repeatedHash, repeatedHash.count())
    val candidates = hashed.join(rhHint(repeatedHash), Seq("_h"), "left_semi")
    // verify: re-derive the raw gram for CANDIDATE positions only and
    // rerun the exact repeat test on it (collision kill). Candidate-sized
    // (true repeats + vanishing collisions); cached since r16 — it feeds
    // the in-candidate repeat count AND the coverage semi-join, and
    // uncached each consumer re-ran the candidate semi-join + text join.
    val candGrams = graft.CacheScope.track(candidates
      .join(base, Seq("_id"))
      .select(col("_id"), col("_p"), col("_t").substr(col("_p"), lit(minLen)).as("_g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY))
    val repeated = candGrams.groupBy("_g").agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= 2).select("_g")
    val covered = candGrams.join(repeated, Seq("_g"), "left_semi")
    coverageIslands(covered, minLen)
  }

  /** Island merge shared by the batch ([[exactSubstringSpans]]) and
    * streaming (q226 drain) exact-substring arms: collapse covered window
    * positions `(_id, _p)` into maximal runs of consecutive positions,
    * widened by the window length — `(doc_id, start_pos, span_len)`.
    * One doc-keyed window + one keyed agg; covered-row sized. */
  private[graft] def coverageIslands(covered: DataFrame, minLen: Int): DataFrame =
    covered
      .withColumn("_isl", col("_p") -
        row_number().over(Window.partitionBy(col("_id")).orderBy(col("_p"))))
      .groupBy(col("_id"), col("_isl"))
      .agg(min(col("_p")).as("start_pos"),
        (max(col("_p")) - min(col("_p")) + minLen).as("span_len"))
      .select(col("_id").as("doc_id"),
        col("start_pos").cast("long").as("start_pos"),
        col("span_len").cast("long").as("span_len"))
}
