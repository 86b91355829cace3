package graft.operators

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.Residue
import graft.functions.GraftFunctions._
import graft.functions.PolyHash

/** Deduplication operators for a training-data pipeline, over the
  * `documents` table (`doc_id`, `text`, ...).
  *
  * Scale design (100 TB discipline): nothing here is O(n^2) over the
  * corpus. Exact dedup is one hash-shuffle on the fingerprint; MinHash-LSH
  * and SimHash generate per-document keys (map-only), shuffle once on the
  * bucket key, and only compare candidates inside a bucket; n-gram Jaccard
  * verification runs only on candidate pairs. The only quadratic work is
  * within-bucket, bounded by banding/bit parameters, and skew-guarded by
  * AQE. Brute-force variants exist solely as small-input oracles/tests.
  */
object Dedup {

  /** Exact dedup via content fingerprint: keep the min doc_id per distinct
    * text, report group size. One hash aggregation; group key is the 64-bit
    * [[PolyHash]] fingerprint + text to be hash-collision-safe — the
    * fingerprint leads the composite key so hash-table probes compare 8
    * bytes first and touch the full text only on fingerprint collisions.
    * Groups are identical to grouping by text alone (the fingerprint is a
    * function of text), so SQL oracles may group by text.
    */
  def exact(docs: DataFrame): DataFrame = docs
    .groupBy(poly_hash(col("text")).as("fp"), col("text"))
    .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dupes"))
    .select(col("keep_id"), col("n_dupes"))

  /** Incremental exact dedup — the bookmark-delta complement of [[exact]]:
    * admit only delta documents whose content fingerprint is unseen, in
    * the historical store AND earlier within the delta itself (smallest
    * doc_id wins, like [[exact]]).
    *
    * The history side is `historyFps(fingerprint)` ONLY — 8 bytes per
    * historical document, never its text — so a run's cost is
    * O(delta + fingerprint store) regardless of corpus age: the delta
    * anti-joins the store on the hash key, then one hash aggregation
    * dedupes within the delta. Paired with the bookmark reader this is
    * the dedup a discrete-run ingestion pipeline executes per run;
    * emitting `fingerprint` lets the caller append the survivors back to
    * the store (commit-after-sink, like the bookmark itself).
    */
  def incrementalExact(historyFps: DataFrame, delta: DataFrame): DataFrame =
    delta.withColumn("fingerprint", poly_hash(col("text")))
      .join(historyFps, Seq("fingerprint"), "left_anti")
      .groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dupes"))
      .select(col("fingerprint"), col("keep_id"), col("n_dupes"))

  /** Sub-document exact dedup at fixed token-window ("line") granularity —
    * the C4/RefinedWeb-style pass that strips boilerplate repeated ACROSS
    * documents (navigation chrome, license headers, templated paragraphs)
    * that document-level [[exact]] can never see. The corpus has no
    * newline structure, so "lines" are consecutive runs of `chunkWords`
    * whitespace tokens; a chunk instance survives iff it is the globally
    * FIRST occurrence of its content (smallest (doc_id, cpos)). Output is
    * one row per document: total chunks, surviving chunks, and the kept
    * fraction — the per-doc signal a quality gate thresholds on.
    *
    * Scale shape: chunking is map-only (`transform`+`slice` over the token
    * array — no explode-regroup shuffle to assemble chunks), and per-doc
    * totals come straight off the array length, before any explode. The
    * global first-occurrence winner is `min(struct(doc_id, cpos))` per
    * chunk — same partial-before-exchange rationale as
    * [[graft.operators.Cdc.latest]]: the shuffle carries at most one
    * candidate owner per chunk per input partition, where the equivalent
    * `row_number()` window would shuffle and sort EVERY chunk instance in
    * the corpus. The fingerprint leads the group key so hash probes
    * compare 8 bytes before touching chunk text ([[exact]]'s trick);
    * grouping keeps the text alongside, so hash collisions cannot merge
    * distinct chunks. Owner rows (one per distinct chunk) then re-key by
    * owning doc — a second, much smaller shuffle.
    */
  def chunkDedup(docs: DataFrame, chunkWords: Int): DataFrame = {
    require(chunkWords >= 1)
    val withTok = docs
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .withColumn("total_chunks",
        ceil(size(col("tk")) / lit(chunkWords.toDouble)).cast("long"))
    val chunks = withTok
      .select(col("doc_id"), explode(when(col("total_chunks") === 0, array())
        .otherwise(transform(
          sequence(lit(0), (col("total_chunks") - 1).cast("int")),
          i => struct(i.cast("long").as("cpos"),
            array_join(slice(col("tk"), i * chunkWords + 1, lit(chunkWords)), " ")
              .as("chunk"))))).as("c"))
      .select(col("doc_id"), col("c.cpos").as("cpos"), col("c.chunk").as("chunk"))
    val owners = chunks
      .groupBy(poly_hash(col("chunk")).as("chunk_fp"), col("chunk"))
      .agg(min(struct(col("doc_id"), col("cpos"))).as("owner"))
    val kept = owners
      .groupBy(col("owner.doc_id").as("doc_id"))
      .agg(count(lit(1)).as("kept_chunks"))
    withTok.select(col("doc_id"), col("total_chunks"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("total_chunks"),
        coalesce(col("kept_chunks"), lit(0L)).as("kept_chunks"),
        when(col("total_chunks") === 0, lit(0.0))
          .otherwise(round(coalesce(col("kept_chunks"), lit(0L)) /
            col("total_chunks"), 6)).as("kept_frac"))
  }

  /** Candidate near-dup pairs by n-gram Jaccard >= `threshold`, computed
    * set-theoretically: explode distinct shingle hashes, join on shingle,
    * count intersections per pair, derive the union from per-doc set sizes.
    * Distributed join on the shingle key — never a cross join. At scale
    * prefer [[ngramJaccardPairsPruned]] (or the LSH prefilter): a shingle
    * present in most documents makes this join's key skewed AND quadratic
    * in that shingle's document frequency.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double): DataFrame = {
    val grams = docs
      .select(col("doc_id"), explode(shingleHashes(col("text"), n)).as("g"))
    val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val a = grams.as("a")
    val b = grams.as("b")
    val inter = a.join(b, col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.doc_id"))
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") /
          (col("sa.sz") + col("sb.sz") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Skew-safe n-gram Jaccard: candidates come only from "rare" shingles
    * (document frequency <= `maxDf` — the stop-shingle pruning that bounds
    * every join key's fan-out to maxDf^2 pairs), then candidates are
    * verified with the EXACT full-set Jaccard. Recall caveat, by design: a
    * pair whose shared shingles are all ubiquitous is never considered —
    * at near-dup thresholds such pairs share rare shingles too.
    */
  def ngramJaccardPairsPruned(docs: DataFrame, n: Int, threshold: Double,
                              maxDf: Int): DataFrame = {
    val grams = docs.select(col("doc_id"),
      explode(shingleHashes(col("text"), n)).as("g"))
    // the STOP set (df > maxDf) is small by construction — at most
    // totalShingleOccurrences / maxDf entries — so broadcast it and strip
    // stop shingles with a map-side anti-join; the rare set (its
    // complement) is most of the vocabulary and must never be the join
    // side that ships anywhere. The df aggregation itself is map-side
    // partial-combined, so its shuffle carries distinct shingles, not
    // occurrences.
    val stop = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("g"))
    val rareGrams = grams.join(broadcast(stop), Seq("g"), "left_anti")
    // cand feeds several verify branches — pinned (pair-id-sized); the
    // verify shingle table is restricted to candidate-involved docs
    // BEFORE the kernel runs, then pinned, so the corpus's shingle
    // arrays are never materialized whole (the sweepAndAppend lesson)
    val cand = graft.Residue.pin(rareGrams.as("a")
      .join(rareGrams.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct())
    val involved = cand.select(col("id_a").as("doc_id"))
      .union(cand.select(col("id_b").as("doc_id"))).distinct()
    val sets = graft.Residue.pin(docs
      .join(involved, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), shingleHashes(col("text"), n).as("gs")))
    cand
      .join(sets.as("ga"), col("id_a") === col("ga.doc_id"))
      .join(sets.as("gb"), col("id_b") === col("gb.doc_id"))
      .select(col("id_a"), col("id_b"),
        round(size(array_intersect(col("ga.gs"), col("gb.gs"))).cast("double") /
          size(array_union(col("ga.gs"), col("gb.gs"))), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Asymmetric near-dup: document CONTAINMENT `|A∩B| / |A|` over hashed
    * n-gram shingle sets — the quote/subset-duplicate signal Jaccard
    * misses. A short document fully quoted inside a long one has
    * containment 1.0 while its Jaccard stays tiny (the union is
    * long-doc-sized), so a Jaccard-gated dedup pass keeps the quote as a
    * "distinct" document. Rows are DIRECTED: (src_id contained-in
    * dst_id) and its reverse are separate rows with separate scores,
    * each gated by `threshold` on its own contained side.
    *
    * Candidate generation and skew discipline are exactly
    * [[ngramJaccardPairsPruned]]'s (df-pruned shingle equi-join,
    * broadcast stop set, map-side-combined df counts): candidates are
    * symmetric; only the score is directional, so both directions come
    * from ONE verify join — no second pass over the corpus. A
    * zero-shingle document never reaches the shingle join, so the
    * contained-side denominator is always positive.
    */
  def containmentPairs(docs: DataFrame, n: Int, threshold: Double,
                       maxDf: Int): DataFrame = {
    val grams = docs.select(col("doc_id"),
      explode(shingleHashes(col("text"), n)).as("g"))
    val stop = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("g"))
    val rareGrams = grams.join(broadcast(stop), Seq("g"), "left_anti")
    // same pin + involved-restriction discipline as
    // [[ngramJaccardPairsPruned]] (see the rationale there)
    val cand = graft.Residue.pin(rareGrams.as("a")
      .join(rareGrams.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct())
    val involved = cand.select(col("id_a").as("doc_id"))
      .union(cand.select(col("id_b").as("doc_id"))).distinct()
    val sets = graft.Residue.pin(docs
      .join(involved, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), shingleHashes(col("text"), n).as("gs")))
    val scored = cand
      .join(sets.as("ga"), col("id_a") === col("ga.doc_id"))
      .join(sets.as("gb"), col("id_b") === col("gb.doc_id"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("ga.gs"), col("gb.gs"))).cast("double").as("inter"),
        size(col("ga.gs")).cast("double").as("na"),
        size(col("gb.gs")).cast("double").as("nb"))
    scored.select(col("id_a").as("src_id"), col("id_b").as("dst_id"),
        round(col("inter") / col("na"), 6).as("containment"))
      .unionByName(scored.select(col("id_b").as("src_id"), col("id_a").as("dst_id"),
        round(col("inter") / col("nb"), 6).as("containment")))
      .filter(col("containment") >= threshold)
  }

  /** MinHash signatures (k hashes) banded into `bands` LSH buckets of
    * `k / bands` rows each: docs sharing any band bucket are candidates.
    * Returns (doc_id, band, band_key).
    */
  def minhashBands(docs: DataFrame, n: Int, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val rows = k / bands
    val sig = docs.select(col("doc_id"),
      minhashSignature(shingleHashes(col("text"), n), k).as("sig"))
    // band key = polynomial fold of the band's signature slice
    sig.select(col("doc_id"),
      posexplode(array((0 until bands).map(bi =>
        aggregate(slice(col("sig"), bi * rows + 1, rows), lit(0L),
          (acc, v) => (acc * 31 + v) % PolyHash.P)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
  }

  /** MinHash-LSH near-dup pairs: candidates = pairs sharing >= 1 band
    * bucket; verified by exact shingle-set Jaccard >= `threshold`.
    * Shuffles: one on (band, band_key) for candidates, one shingle join for
    * verification restricted to candidates.
    */
  def minhashLshPairs(docs: DataFrame, n: Int = 3, k: Int = 16, bands: Int = 4,
                      threshold: Double = 0.5): DataFrame = {
    val bandsDf = minhashBands(docs, n, k, bands)
    // NOT pinned, deliberately (A/B-measured in r10): the self-join's two
    // band subtrees and the two gram-join arms canonicalize to identical
    // exchanges, so ReusedExchange already evaluates them once — a cache
    // here adds a materialization barrier, loses AQE inside the cached
    // subplan, and measured 2.1 -> 6.4 s at sf0.1. Contrast
    // LshBandIndex.sweepAndAppend, where the probe mixes a bucketed
    // index scan with delta bands (no reusable exchange) and the pin WON.
    val cand = bandsDf.as("x")
      .join(bandsDf.as("y"),
        col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    val grams = docs.select(col("doc_id"), shingleHashes(col("text"), n).as("gs"))
    cand
      .join(grams.as("ga"), col("id_a") === col("ga.doc_id"))
      .join(grams.as("gb"), col("id_b") === col("gb.doc_id"))
      .select(col("id_a"), col("id_b"),
        round(size(array_intersect(col("ga.gs"), col("gb.gs"))).cast("double") /
          size(array_union(col("ga.gs"), col("gb.gs"))), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental MinHash-LSH sweep: the near-dup pairs INVOLVING at least
    * one delta doc, computed by banding ONLY the delta and probing the
    * band index of the existing corpus — the incrementality discipline of
    * the reference's bookmark scans (SURVEY §2 S1) applied to near-dup
    * detection. A 100 TB corpus is never re-shingled on ingest: its band
    * table is an append-only index (rebuilt here from `oldDocs` so the
    * oracle can replay it; the persisted production shape — a stored
    * parquet band table with bookmark-style commit-after-sink appends —
    * is [[graft.sources.LshBandIndex]], oracle-checked to emit identical
    * pairs by `dedup_incr_lsh_indexed`). Output equals
    * exactly `minhashLshPairs(old ∪ delta)` restricted to rows where
    * id_a or id_b is a delta doc — the invariant the oracle hashes.
    *
    * Scale shape: the probe join shuffles on (band, band_key); with the
    * index bucketed on that key (LayoutSpec's discipline) only the
    * delta-sized side moves. Verification re-shingles only docs that
    * appear in some candidate pair (semi-join pruning), so old-corpus
    * text is read only for matched docs — the delta sweep's cost tracks
    * the DELTA size plus its match set, not the corpus.
    */
  def minhashLshPairsIncremental(oldDocs: DataFrame, deltaDocs: DataFrame,
                                 n: Int = 3, k: Int = 16, bands: Int = 4,
                                 threshold: Double = 0.5): DataFrame = {
    val idx = minhashBands(oldDocs, n, k, bands)
    val dBands = minhashBands(deltaDocs, n, k, bands)
    // probe the union so delta-delta pairs are found too; least/greatest
    // + distinct dedupes the delta-delta collisions seen in both orders.
    // NOT pinned (A/B-measured in r10, see minhashLshPairs): the
    // duplicate subtrees here canonicalize to reusable exchanges, and a
    // cache barrier cost corpus_clean_incr 5.2 -> 21 s at sf0.1.
    val cand = dBands.as("x")
      .join(idx.unionByName(dBands).as("y"),
        col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("id_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("id_b"))
      .distinct()
    val involved = cand.select(col("id_a").as("doc_id"))
      .union(cand.select(col("id_b").as("doc_id"))).distinct()
    val grams = oldDocs.unionByName(deltaDocs)
      .join(involved, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), shingleHashes(col("text"), n).as("gs"))
    cand
      .join(grams.as("ga"), col("id_a") === col("ga.doc_id"))
      .join(grams.as("gb"), col("id_b") === col("gb.doc_id"))
      .select(col("id_a"), col("id_b"),
        round(size(array_intersect(col("ga.gs"), col("gb.gs"))).cast("double") /
          size(array_union(col("ga.gs"), col("gb.gs"))), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash near-dup pairs: `bits`-bit simhash over whitespace-token
    * hashes; candidates share the full simhash bucket (hamming distance 0
    * prefilter via one shuffle), verified at <= `maxHamming` by popcount.
    * For maxHamming > 0 the standard trick applies: explode into
    * `maxHamming + 1` key chunks so matching pairs share >= 1 chunk.
    */
  def simhashPairs(docs: DataFrame, bits: Int = 16, maxHamming: Int = 2): DataFrame = {
    val chunks = maxHamming + 1
    val chunkBits = math.max(bits / chunks, 1)
    def chunkOf(sh: Column, ci: Int): Column =
      shiftright(sh, ci * chunkBits).bitwiseAND(lit((1L << chunkBits) - 1))
    val hashed = docs.select(col("doc_id"),
      simhashOf(col("text"), bits).as("sh"))
    val keyed = hashed.select(col("doc_id"), col("sh"),
      posexplode(array((0 until chunks).map(chunkOf(col("sh"), _)): _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "chunk_key")
    // exactly-once emission: keep the pair only in its FIRST colliding
    // chunk (earlier-chunk equality recomputed from the carried simhash —
    // a couple of codegen'd bit ops), instead of a distinct that would
    // re-shuffle every duplicate candidate
    val earlierCollision = (0 until chunks - 1).map { ci =>
      (col("x.chunk") > ci) && (chunkOf(col("x.sh"), ci) === chunkOf(col("y.sh"), ci))
    }.reduceOption(_ || _).getOrElse(lit(false))
    keyed.as("x").join(keyed.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.chunk_key") === col("y.chunk_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .filter(!earlierCollision)
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        hammingDistance(col("x.sh"), col("y.sh")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** [[simhashPairs]] with the key width derived from the corpus size
    * ([[Similarity.Sizing.simhashBits]]): the hamming trick's collision
    * unit is the CHUNK (bits/(maxHamming+1) wide), so chunk width tracks
    * log2(n) — a fixed 16-bit family's ~5-bit chunks saturate past ~10^5
    * docs and candidates go quadratic no matter how clean the data is.
    */
  def simhashPairsAuto(docs: DataFrame, maxHamming: Int = 2): DataFrame =
    simhashPairs(docs,
      Similarity.Sizing.simhashBits(docs.count(), maxHamming), maxHamming)

  /** Connected components over near-dup pairs: every doc that appears in
    * a pair gets `cluster_id` = min doc_id of its component (the cluster
    * representative a dedup pipeline keeps).
    *
    *  1. Contract: one `mapPartitions` pass runs a local union-find
    *     (union by min root, path compression) over each partition's pairs
    *     and emits `(node, local root)` — a star forest spanning the same
    *     components, so in-partition structure costs no global round (the
    *     large-star/small-star idea of Kiveris et al., SoCC 2014).
    *  2. Propagate: min-label rounds with path halving
    *     (label(x) := label(label(x)), O(log diameter) rounds) on RDDs that
    *     share one `HashPartitioner`, so the edge-label join is narrow and
    *     a round is three shuffles with no query planning.
    *  3. Converge: each round's labels carry their own changed flag, so
    *     the round's only action is a count over that persisted RDD — one
    *     Spark job per round.
    *
    * In-loop state is the star edges plus two label generations
    * ([[graft.Residue.persist]]), node-sized, never the pair set, and
    * nothing is collected to the driver. Jobs are described
    * `Dedup.nearDupClusters contract` / `... round <k>`.
    */
  def nearDupClusters(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    val part = new HashPartitioner(sc.defaultParallelism)
    // doc_id keeps the ids' nullability; cluster_id is a nullable min
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, Seq("id_a", "id_b").exists(pairs.schema(_).nullable)),
      StructField("cluster_id", LongType, nullable = true)))
    val callerDesc = sc.getLocalProperty(JobDescription)
    try {
      sc.setJobDescription("Dedup.nearDupClusters contract")
      val stars = pairs.where(col("id_a").isNotNull && col("id_b").isNotNull)
        .select(col("id_a"), col("id_b")).as[(Long, Long)].rdd
        .mapPartitions(localComponents)
      // undirected star edges as adjacency; a root lists itself, so a
      // self-pair's lone node still gets a row
      val adj = Residue.persist(stars
        .flatMap { case (n, r) => if (n == r) Iterator((n, n)) else Iterator((n, r), (r, n)) }
        .groupByKey(part).mapValues(_.toArray.distinct))
      // label = (cluster_id, changed in the round that produced it)
      var labels = Residue.persist(adj.mapPartitions(_.map { case (n, ns) =>
        (n, (math.min(n, ns.min), true)) }, preservesPartitioning = true))
      // the contraction job: materializes the star edges and first labels
      var changed = labels.count()
      var round = 0
      while (changed > 0) {
        round += 1
        sc.setJobDescription(s"Dedup.nearDupClusters round $round")
        // one hop: label(x) = min(label(x), label of every neighbor)
        val hop = adj.join(labels, part)
          .flatMap { case (n, (ns, (l, _))) => Iterator((n, l)) ++ ns.iterator.map((_, l)) }
          .reduceByKey(part, math.min(_, _))
        // path halving: label(x) = hop(hop(x)) — labels are node ids in the
        // same graph, so the lookup always hits
        val next = Residue.persist(hop.map(_.swap).join(hop, part)
          .map { case (_, (n, l)) => (n, l) }
          .join(labels, part)
          .mapValues { case (l, (prev, _)) => (l, l != prev) })
        changed = next.filter(_._2._2).count()
        Residue.release(labels)
        labels = next
      }
      Residue.release(adj)
      spark.createDataFrame(labels.map { case (n, (l, _)) => Row(n, l) }, outSchema)
    } finally sc.setLocalProperty(JobDescription, callerDesc)
  }

  /** The local property `SparkContext.setJobDescription` sets. */
  private val JobDescription = "spark.job.description"

  /** One partition's pairs → `(node, root)` for every node seen, root =
    * the minimum node of its partition-local component. */
  private def localComponents(pairs: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (y != r) { val up = parent(y); parent(y) = r; y = up }
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toArray.iterator.map(n => (n, find(n)))
  }

  /** Quality-aware retention: from each near-dup cluster keep the BEST
    * document, not the smallest id — the policy production pipelines
    * actually ship (keep the longest / highest-quality member, drop the
    * rest). `clusters` is [[nearDupClusters]] output; `quality` is any
    * numeric column of `docs` (higher wins, ties to the smallest doc_id
    * for determinism). Emits one row per multi-member cluster with the
    * winner and the member count; singletons never enter `clusters` and
    * are trivially kept by the caller.
    *
    * One broadcast-or-shuffle join clusters→docs (cluster rows are
    * near-dup members only — a small fraction of the corpus) and one
    * aggregation whose winner is `min(struct(-quality, doc_id))`: the
    * partial-before-exchange shape of [[Cdc.latest]], so the shuffle
    * carries one candidate per cluster per partition, never the member
    * list.
    */
  def keepBestPerCluster(clusters: DataFrame, docs: DataFrame,
                         quality: Column): DataFrame =
    clusters.join(docs.select(col("doc_id"), (-quality).as("_nq")), "doc_id")
      .groupBy(col("cluster_id"))
      .agg(min(struct(col("_nq"), col("doc_id"))).as("_m"),
        count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("cluster_id"), col("_m.doc_id").as("keep_id"),
        (-col("_m._nq")).as("keep_quality"), col("n_docs"))

  /** Embedding near-dup pairs: cosine similarity >= `threshold` between
    * embedding vectors. `bucketed = true` (the scale path, and the declared
    * query) routes through the random-hyperplane LSH prefilter in
    * [[Similarity]] — map-only signatures, one shuffle on (table, bucket),
    * exact cosine only on candidates; false is the brute-force all-pairs
    * join kept solely as the small-input recall/equality check in specs.
    */
  def embeddingPairs(emb: DataFrame, threshold: Double, bucketed: Boolean = false,
                     tables: Int = 8, bits: Int = 8): DataFrame = {
    if (bucketed)
      Similarity.hyperplaneCandidates(emb, tables, bits)
        .select(col("id_a"), col("id_b"),
          round(cosineSimilarity(col("ea"), col("eb")), 6).as("cosine"))
        .filter(col("cosine") >= threshold)
    else {
      // brute pair join with the norm hoisted out of the O(n^2) loop:
      // dot/(norm_a*norm_b) with per-vector norms is bit-identical to
      // cosineSimilarity (same fold order), at a third of the flops
      val e = emb.select(col("vec_id"), col("embedding"),
        l2_fast(col("embedding")).as("nrm"))
      e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
          round(when(col("a.nrm") * col("b.nrm") === 0.0, lit(0.0))
            .otherwise(dot_fast(col("a.embedding"), col("b.embedding"))
              / (col("a.nrm") * col("b.nrm"))), 6).as("cosine"))
        .filter(col("cosine") >= threshold)
    }
  }

  /** Semantic near-dup pairs, SemDeDup-style (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embeddings, then compare pairs
    * only WITHIN a cluster — the clustering is the candidate prefilter, the
    * published alternative to [[embeddingPairs]]'s LSH buckets for
    * embedding-space dedup.
    *
    * Scale shape: assignment is [[KMeans]]'s map-only argmax against
    * driver-literal centroids; the pair join shuffles once on the cluster
    * id, and the only quadratic work is within-cluster, bounded at
    * sum(|cluster|^2). With k ~ n / cellBudget (the [[Similarity.Sizing]]
    * IVF rule — centroids stay O(k*d) driver metadata) expected cluster
    * population is constant, so candidate pairs stay LINEAR in corpus
    * size. The recall trade vs LSH is structural, not a tuning knob: a
    * near-dup pair straddling a cluster boundary is invisible here (LSH
    * gives each pair `tables` independent chances), in exchange for
    * candidates that never degenerate on key-family saturation — the
    * failure mode the round-4 rehearsal measured for under-sized LSH bits.
    * Skewed clusters (one topic dominating the corpus) re-quadratize the
    * within-cluster term: raise k, or sub-split hot cells (IVF's nlist
    * rule), before reaching for AQE skew handling — the skew here is
    * semantic, known before the join runs.
    *
    * Output matches [[embeddingPairs]]: (id_a, id_b, cosine-rounded-6),
    * pairs with cosine >= `threshold`; id_a < id_b.
    */
  def semanticPairs(emb: DataFrame, threshold: Double, k: Int = 8,
                    iters: Int = 2): DataFrame = {
    // norms hoisted out of the within-cluster pair loop, as in the brute
    // path of embeddingPairs (bit-identical fold order to cosineSimilarity)
    val a = KMeans.assignFull(emb, k, iters)
      .select(col("cluster"), col("vec_id"), col("embedding"),
        l2_fast(col("embedding")).as("nrm"))
    a.as("x").join(a.as("y"),
        col("x.cluster") === col("y.cluster") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"),
        round(when(col("x.nrm") * col("y.nrm") === 0.0, lit(0.0))
          .otherwise(dot_fast(col("x.embedding"), col("y.embedding"))
            / (col("x.nrm") * col("y.nrm"))), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Per-document duplicated-span coverage — the window-hash approximation
    * of exact-substring dedup (Lee et al. 2022, arXiv:2107.06499): a token
    * window of length `spanLen` is "duplicated" when its rolling hash
    * occurs in >= 2 DISTINCT documents, and a document's coverage is the
    * number of its token positions inside at least one duplicated window.
    * Output: (doc_id, n_tokens, dup_tokens, dup_frac), docs with
    * dup_tokens > 0 — the per-doc signal the paper thresholds on to drop
    * or trim boilerplate-heavy documents.
    *
    * Scale shape: span hashing is a map-only codegen'd O(n_tokens) pass
    * ([[graft.functions.SpanHashesExpr]] — rolling removal, not a re-fold
    * per window); the duplicated-hash set is one partial-aggregated
    * groupBy shuffle of O(total tokens) narrow (hash, doc) rows; the join
    * back is an equi-join on the span hash (AQE-skew-safe: a boilerplate
    * span shared by millions of docs is one hot key, not a cross
    * product). Coverage NEVER explodes the spanLen positions per span:
    * overlapping windows are union-merged with the interval trick (running
    * max of span end over a per-doc window ordered by start — the
    * [[graft.SparkEntry]] interval_merge pattern), so the post-join state
    * is one row per duplicated window, not spanLen.
    */
  def duplicatedSpanCoverage(docs: DataFrame, spanLen: Int): DataFrame = {
    require(spanLen >= 2)
    import org.apache.spark.sql.expressions.Window
    val spans = docs
      .select(col("doc_id"), tokenHashes(col("text")).as("th"))
      .select(col("doc_id"), size(col("th")).cast("long").as("n_tokens"),
        posexplode(spanHashes(col("th"), spanLen)).as(Seq("pos", "span_hash")))
    val dupHashes = spans.groupBy(col("span_hash"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("span_hash")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    spans.join(dupHashes, Seq("span_hash"))
      .select(col("doc_id"), col("n_tokens"),
        (col("pos") + 1).as("s"), (col("pos") + spanLen).as("e"))
      .withColumn("prev_e", max(col("e")).over(w))
      .groupBy(col("doc_id"), col("n_tokens"))
      .agg(sum(greatest(lit(0), col("e") -
        greatest(col("s") - 1, coalesce(col("prev_e"), lit(0)))))
        .as("dup_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("dup_tokens"),
        round(col("dup_tokens").cast("double") / col("n_tokens"), 6)
          .as("dup_frac"))
  }

  /** Winnowing fingerprint near-dup pairs (Schleimer/Wilkerson/Aiken 2003,
    * the MOSS local fingerprinting algorithm): every token window of
    * `spanLen` gets a rolling hash (the [[duplicatedSpanCoverage]] kernel),
    * and from each run of `window` consecutive span hashes the MINIMUM is
    * selected as a fingerprint — the winnowing guarantee is that any shared
    * substring of `spanLen + window - 1` tokens contributes at least one
    * shared fingerprint, while only ~2/(window+1) of spans are kept.
    * Output: (id_a, id_b, shared_fps, overlap) for pairs sharing at least
    * `minShared` distinct fingerprints, `overlap` = shared / min fingerprint
    * count of the pair (the MOSS containment score), rounded to 6.
    *
    * Scale shape: span hashing is the same map-only codegen'd O(n_tokens)
    * pass as [[duplicatedSpanCoverage]]; the min-select is a per-doc sliding
    * window (one shuffle on doc_id, O(window) work per position); the
    * fingerprint set is ~2/(window+1) the span count, so the join shuffle
    * moves a FRACTION of the token volume. Fingerprints in more than
    * `maxDf` docs (boilerplate) are dropped before the pair join — the same
    * df-bound that keeps [[ngramJaccardPairsPruned]]'s fan-out linear: the
    * pair count is bounded by sum(df^2) <= maxDf * total_fps. Overlap is
    * computed over the PRUNED fingerprint sets.
    */
  /** The winnowing fingerprint stage of [[winnowPairs]], exposed so the
    * scale rehearsal can measure the candidate join on the operator's own
    * intermediate: distinct df-pruned (doc_id, fp) rows.
    */
  def winnowFingerprints(docs: DataFrame, spanLen: Int, window: Int,
                         maxDf: Int): DataFrame = {
    require(spanLen >= 2 && window >= 1 && maxDf >= 1)
    val spans = docs
      .select(col("doc_id"),
        spanHashes(tokenHashes(col("text")), spanLen).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("n_spans"),
        posexplode(col("sh")).as(Seq("pos", "span_hash")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(0, window - 1)
    // trailing positions with fewer than `window` spans ahead are not
    // window starts — drop them so every fingerprint is a full-window min
    val fps = spans
      .withColumn("fp", min(col("span_hash")).over(w))
      .filter(col("pos") <= col("n_spans") - window)
      .select(col("doc_id"), col("fp")).distinct()
    fps.join(
      fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select("fp"),
      Seq("fp"))
  }

  def winnowPairs(docs: DataFrame, spanLen: Int, window: Int,
                  minShared: Int, maxDf: Int): DataFrame = {
    require(minShared >= 1)
    val kept = winnowFingerprints(docs, spanLen, window, maxDf)
    val nfp = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    kept.as("x").join(kept.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
      .join(nfp.select(col("doc_id").as("id_a"), col("n_fp").as("n_fp_a")), "id_a")
      .join(nfp.select(col("doc_id").as("id_b"), col("n_fp").as("n_fp_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("shared_fps"),
        round(col("shared_fps").cast("double") /
          least(col("n_fp_a"), col("n_fp_b")), 6).as("overlap"))
  }

  /** Train/eval contamination pairs: (train doc, benchmark doc) sharing
    * at least `minShared` distinct hashed character `n`-grams — the
    * decontamination sweep a training pipeline runs so eval-set text is
    * excluded from training shards. The benchmark side is an eval set,
    * small by definition, so its exploded gram set ships as a broadcast:
    * the (100 TB) train side is a map-only gram scan, and the only
    * shuffle is the pair-key count — candidate pairs only, never grams.
    */
  def crossOverlapPairs(train: DataFrame, bench: DataFrame, n: Int,
                        minShared: Long): DataFrame = {
    def grams(df: DataFrame, idAs: String) =
      df.select(col("doc_id").as(idAs),
        explode(shingleHashes(col("text"), n)).as("g"))
    grams(train, "train_id").join(broadcast(grams(bench, "bench_id")), "g")
      .groupBy(col("train_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Bloom-prefiltered decontamination: the EXACT result of
    * [[crossOverlapPairs]] at a fraction of its join input.
    *
    * Phase 1 sketches the distinct bench grams into a Bloom filter
    * (~1.2 bytes/gram at 1% fpp — the whole eval suite fits in a few
    * MB, vs broadcasting the gram rows themselves). Phase 2 drops every
    * train gram the sketch rules out — map-only, codegen'd, no shuffle;
    * this is where ~all of a 100 TB corpus' grams die, since
    * contamination is rare by construction. Phase 3 is the same
    * broadcast verify join + count as the exact operator, now over
    * survivors only; Bloom false positives are eliminated here, so the
    * output is bit-identical to the exact path (spec-pinned), never
    * approximate.
    */
  def crossOverlapPairsBloom(train: DataFrame, bench: DataFrame, n: Int,
                             minShared: Long, fpp: Double = 0.01): DataFrame =
    crossOverlapPairsBloomWith(train, bench, n, minShared,
      gramBloom(bench, n, fpp))

  /** The eval suite's gram Bloom filter, built standalone so a
    * long-lived pipeline can build it ONCE and decontaminate every
    * ingest delta against the cached sketch (the eval suite is fixed;
    * re-sketching it per ingest is pure waste — the pipeline_e2e_incr
    * query holds it in [[graft.IndexCache]] exactly as production holds
    * the deployed filter).
    *
    * Size by the INSTANCE count and feed non-distinct grams: Bloom
    * insertion is idempotent, so a distinct() exchange before the build
    * buys nothing, and over-provisioning by the duplication factor only
    * widens the (eval-suite-sized) filter while tightening its fpp. One
    * cheap count over the rows + one shuffle-free aggregate replaces
    * distinct + count + build.
    */
  def gramBloom(bench: DataFrame, n: Int,
                fpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter = {
    val g = bench.select(explode(shingleHashes(col("text"), n)).as("g"))
    val nGrams = math.max(1L, g.count())
    g.stat.bloomFilter("g", nGrams, fpp)
  }

  /** [[crossOverlapPairsBloom]] against a prebuilt `bloom` (which must
    * have been built over `bench`'s own n-grams — a sketch missing bench
    * grams would drop true positives in the prefilter). The verify join
    * stays exact, so output is bit-identical to [[crossOverlapPairs]].
    */
  def crossOverlapPairsBloomWith(train: DataFrame, bench: DataFrame, n: Int,
                                 minShared: Long,
                                 bloom: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    def grams(df: DataFrame, idAs: String) =
      df.select(col("doc_id").as(idAs),
        explode(shingleHashes(col("text"), n)).as("g"))
    val benchGrams = Residue.pin(grams(bench, "bench_id"))
    grams(train, "train_id")
      .filter(bloom_might_contain(col("g"), bloom))
      .join(broadcast(benchGrams), "g")
      .groupBy(col("train_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
