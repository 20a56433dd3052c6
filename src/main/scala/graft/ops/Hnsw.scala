package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{RoundPortableExpr, VectorFunctions}

/** Segment-local HNSW (Malkov & Yashunin 2018, arXiv:1603.09320) — the
  * graph index the reference builds on bulk load
  * (/root/reference/duckvdb.py:37-41,45).
  *
  * HNSW's greedy walk is inherently sequential, which is why a naive
  * port doesn't fit bulk-synchronous Spark. The production answer —
  * the one Lucene/Elasticsearch ship — is SEGMENTED: split the corpus
  * into deterministic segments, build one independent in-memory HNSW
  * per segment inside `mapPartitions` (sequential is free within a
  * partition), fan the broadcast query panel out to every segment, and
  * merge the per-segment top-k by a single window rank. At 100 TB the
  * segments are the natural parallel unit (one per partition /
  * executor core); build cost is embarrassingly parallel, search cost
  * is one map-side pass plus an O(queries · segments · k) merge, and a
  * new data batch is a NEW segment — append never touches built graphs
  * (see [[appendSegments]]).
  *
  * Determinism (so the recall gate is oracle-checkable): segment
  * membership is hash-partitioning on the id column; insertion order is
  * ids ascending within a segment; a node's level comes from splitmix64
  * of its id (not an RNG stream, so it is independent of row order);
  * all heap orderings tie-break on node id. The global merge re-scores
  * every surfaced candidate through the SAME codegen cosine kernel +
  * portable rounding as [[Similarity.bruteTopK]], so the HNSW layer
  * only decides WHICH ≤ segments·k candidates survive — the returned
  * distances and ordering are engine-reproducible.
  */
object Hnsw {

  /** Measured-good segment sizing (BENCHNOTES round-6 HNSW table: the
    * 100× corpus at ~8k vectors/segment built in 14.2 s with recall
    * 0.99, where a fixed small segment count measured 84.7 s): one
    * graph per ~8k vectors, floor 1. This is the DEFAULT everywhere a
    * segment count is not given — pass an explicit `numSegments` only
    * to pin a layout (e.g. a test fixture or an existing on-disk
    * segmentation). */
  val RowsPerSegment = 8000L

  def autoSegments(nRows: Long): Int =
    math.max(1L, (nRows + RowsPerSegment - 1) / RowsPerSegment).toInt

  /** splitmix64 finalizer — the repo's standard deterministic hash
    * (same family as [[graft.functions.LshBucketsExpr]]). */
  private[graft] def mix64(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Node level ~ floor(-ln(U) · 1/ln(M)), U derived from the id so the
    * level is a pure function of the key (insert-order independent). */
  private[graft] def levelOf(id: Long, m: Int): Int = {
    val u = ((mix64(id) >>> 11).toDouble + 0.5) / (1L << 53).toDouble // (0,1)
    math.floor(-math.log(u) / math.log(m.toDouble)).toInt
  }

  /** One segment's in-memory HNSW over (ids, vecs), ids ascending.
    * Diversity-heuristic neighbor selection (the paper's Algorithm 4)
    * for both insertion and overfull-list pruning; level-0 degree cap
    * 2M, upper levels M, per the paper. */
  private[ops] final class SegmentIndex(
      ids: Array[Long], vecs: Array[Array[Float]], m: Int, efConstruction: Int) {
    private val maxM0 = 2 * m
    private val levels = ids.map(id => levelOf(id, m))
    // adj(node)(level) = neighbor node indexes
    private val adj: Array[Array[mutable.ArrayBuffer[Int]]] =
      levels.map(l => Array.fill(l + 1)(mutable.ArrayBuffer.empty[Int]))
    private var entry = -1
    private var topLevel = -1

    /** Per-node adjacency with neighbor NODE IDS (level-indexed) — the
      * persistable form of the graph ([[Hnsw.buildGraph]]). */
    def adjacencyIds(node: Int): Array[Array[Long]] =
      adj(node).map(_.map(ids(_)).toArray)

    /** Restore a built graph from persisted adjacency (aligned with
      * `ids`): fills edges and re-derives the entry point (top level,
      * min id — the same node the build path promotes last). Neighbor
      * ids not present in `ids` are dropped: if a reader ever splits a
      * segment's rows across partitions, each part restores as a
      * smaller valid graph and recall degrades gate-visibly instead of
      * the probe crashing. */
    def restore(adjIds: Array[Array[Array[Long]]]): Unit = {
      val idToIdx = mutable.HashMap[Long, Int]()
      var i = 0
      while (i < ids.length) { idToIdx(ids(i)) = i; i += 1 }
      i = 0
      while (i < ids.length) {
        var lev = 0
        while (lev < adjIds(i).length && lev < adj(i).length) {
          adj(i)(lev).clear()
          adj(i)(lev) ++= adjIds(i)(lev).flatMap(idToIdx.get)
          lev += 1
        }
        if (levels(i) > topLevel || (levels(i) == topLevel && (entry < 0 || ids(i) < ids(entry)))) {
          topLevel = levels(i); entry = i
        }
        i += 1
      }
    }

    private def dist(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 1.0 else 1.0 - dot / math.sqrt(na * nb)
    }

    /** Greedy descent at `level`: hill-climb to the local minimum. */
    private def greedy(q: Array[Float], start: Int, level: Int): Int = {
      var cur = start
      var curD = dist(q, vecs(cur))
      var improved = true
      while (improved) {
        improved = false
        val ns = adj(cur)(level)
        var i = 0
        while (i < ns.length) {
          val n = ns(i)
          val d = dist(q, vecs(n))
          if (d < curD || (d == curD && n < cur)) { curD = d; cur = n; improved = true }
          i += 1
        }
      }
      cur
    }

    /** Algorithm 2: beam search at `level` with beam width `ef`.
      * Returns (dist, node) ascending, ≤ ef entries. */
    private def searchLayer(q: Array[Float], start: Int, ef: Int, level: Int)
        : mutable.ArrayBuffer[(Double, Int)] = {
      val visited = mutable.HashSet[Int](start)
      implicit val asc: Ordering[(Double, Int)] = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)
      val candidates = mutable.PriorityQueue[(Double, Int)]()(asc.reverse) // min-heap
      val result = mutable.PriorityQueue[(Double, Int)]()(asc)             // max-heap
      val d0 = dist(q, vecs(start))
      candidates.enqueue((d0, start)); result.enqueue((d0, start))
      while (candidates.nonEmpty) {
        val (cd, c) = candidates.dequeue()
        if (cd > result.head._1 && result.size >= ef) { candidates.clear() }
        else {
          val ns = adj(c)(level)
          var i = 0
          while (i < ns.length) {
            val n = ns(i)
            if (!visited.contains(n)) {
              visited += n
              val d = dist(q, vecs(n))
              if (result.size < ef || d < result.head._1 ||
                  (d == result.head._1 && n < result.head._2)) {
                candidates.enqueue((d, n)); result.enqueue((d, n))
                if (result.size > ef) result.dequeue()
              }
            }
            i += 1
          }
        }
      }
      val out = mutable.ArrayBuffer[(Double, Int)]()
      out ++= result.dequeueAll.reverse
      out
    }

    /** Algorithm 4 (SELECT-NEIGHBORS-HEURISTIC): take candidates
      * closest-first, keeping one only if it is closer to the anchor
      * than to every neighbor already kept — edges stay DIVERSE, so on
      * clustered data the graph keeps inter-cluster highways instead
      * of m redundant same-cluster links (the known failure mode of
      * naive nearest-m selection). The paper's keepPrunedConnections
      * flag is ON: pruned candidates backfill the list to `max`
      * closest-first, so neighbor lists stay at capacity and tight
      * clusters cannot leave the layer graph DISCONNECTED (measured: a
      * single-segment graph over 10 tight clusters was stuck at recall
      * 0.72 at any beam width without the backfill, 1.0 with it — a
      * disconnected component is unreachable at every ef). Determinism:
      * candidates arrive (dist, id)-sorted and both passes are exact. */
    private def selectHeuristic(
        anchor: Array[Float], w: Iterable[(Double, Int)], max: Int): mutable.ArrayBuffer[Int] = {
      val r = mutable.ArrayBuffer[Int]()
      val pruned = mutable.ArrayBuffer[Int]()
      val it = w.iterator
      while (it.hasNext && r.length < max) {
        val (d, n) = it.next()
        if (r.forall(e => dist(vecs(n), vecs(e)) >= d)) r += n
        else pruned += n
      }
      var i = 0
      while (r.length < max && i < pruned.length) { r += pruned(i); i += 1 }
      r
    }

    private def connect(a: Int, b: Int, level: Int): Unit = {
      val cap = if (level == 0) maxM0 else m
      adj(a)(level) += b
      if (adj(a)(level).length > cap) {
        val cands = adj(a)(level)
          .map(n => (dist(vecs(a), vecs(n)), n)).sorted
        val kept = selectHeuristic(vecs(a), cands, cap)
        adj(a)(level).clear(); adj(a)(level) ++= kept
      }
    }

    def insert(node: Int): Unit = {
      val l = levels(node)
      if (entry < 0) { entry = node; topLevel = l; return }
      var ep = entry
      var lev = topLevel
      while (lev > l) { ep = greedy(vecs(node), ep, lev); lev -= 1 }
      lev = math.min(topLevel, l)
      while (lev >= 0) {
        val w = searchLayer(vecs(node), ep, efConstruction, lev)
        val neighbors = selectHeuristic(vecs(node), w, m)
        neighbors.foreach { n =>
          connect(node, n, lev); connect(n, node, lev)
        }
        ep = w.head._2
        lev -= 1
      }
      if (l > topLevel) { entry = node; topLevel = l }
    }

    /** Top-k node ids for query `q` with beam `efSearch` (≥ k). */
    def search(q: Array[Float], k: Int, efSearch: Int): Array[Long] = {
      if (entry < 0) return Array.empty
      var ep = entry
      var lev = topLevel
      while (lev > 0) { ep = greedy(q, ep, lev); lev -= 1 }
      searchLayer(q, ep, math.max(efSearch, k), 0)
        .take(k).map { case (_, n) => ids(n) }.toArray
    }
  }

  /** Build the per-partition index over an iterator of (id, vec) and
    * surface each broadcast query's local top-k ids. */
  private def segmentSearch(
      rows: Iterator[(Long, Array[Float])], panel: Array[(Long, Array[Float])],
      k: Int, m: Int, efConstruction: Int, efSearch: Int): Iterator[(Long, Long)] = {
    val seg = rows.toArray.sortBy(_._1)
    if (seg.isEmpty) Iterator.empty
    else {
      val idx = new SegmentIndex(seg.map(_._1), seg.map(_._2), m, efConstruction)
      var i = 0
      while (i < seg.length) { idx.insert(i); i += 1 }
      panel.iterator.flatMap { case (qid, qv) =>
        idx.search(qv, k, efSearch).iterator.map(nid => (qid, nid))
      }
    }
  }

  /** Segmented HNSW top-k with exact kernel rerank of the surfaced
    * candidates. Same (query_id, neighbor_id, distance) contract as
    * [[Similarity.bruteTopK]].
    *
    * `queries` must be a bounded serving panel (it is collected and
    * broadcast); bulk query batches go through [[probeGraphBulk]]
    * instead. `numSegments` defaults to the measured-good
    * ~[[RowsPerSegment]] rows per graph (one `count()` metadata job);
    * pass an explicit value only to pin a layout. */
  def searchTopK(
      queries: DataFrame, candidates: DataFrame, k: Int,
      m: Int = 16, efConstruction: Int = 128, efSearch: Int = 96,
      numSegments: Int = 0, idCol: String = "vec_id", embCol: String = "embedding",
      excludeSelf: Boolean = true): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val segs = if (numSegments > 0) numSegments else autoSegments(candidates.count())
    val panel = queries.select(col(idCol), col(embCol)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    val bc = spark.sparkContext.broadcast(panel)
    // self-exclusion happens in the rerank, AFTER the per-segment top-k —
    // surface one extra candidate so the query's own segment still
    // contributes k real neighbors (with few segments the lost slot is
    // not masked by the cross-segment candidate union)
    val segK = k + (if (excludeSelf) 1 else 0)
    val pairs = candidates.select(col(idCol).as("_1"), col(embCol).as("_2"))
      .repartition(segs, col("_1"))
      .as[(Long, Array[Float])]
      .mapPartitions(it => segmentSearch(it, bc.value, segK, m, efConstruction, efSearch))
      .toDF("query_id", "neighbor_id")
    rerank(pairs, queries, candidates, k, idCol, embCol, excludeSelf)
  }

  /** Segment-append (the Lucene pattern, and the reference's own
    * bulk-load-only index contract): `delta` becomes NEW segments —
    * existing graphs are never touched — and search fans over
    * base ∪ delta segments. Here that is literally
    * `base.union(delta)` re-segmented deterministically by id hash, so
    * the same rows land in the same segments regardless of which batch
    * delivered them; an id-range split of the corpus yields the
    * identical index either way. */
  def appendSegments(base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta)

  /** Build the PERSISTABLE index: one graph per segment, exported as
    * rows (seg, id, adj) where `adj` is the node's level-indexed
    * neighbor-id lists — the durable form of the reference's bulk-load
    * HNSW (duckvdb.py:45: index built once at load, probed later).
    * Write these rows to parquet next to the vectors; [[probeGraph]]
    * searches them without rebuilding. Segment membership is
    * `pmod(hash(id), numSegments)` (computable in SQL, stable across
    * batches); `segOffset` names NEW segments for an appended batch so
    * an append NEVER rewrites built graphs — the Lucene segment
    * lifecycle. `m` is part of the on-disk contract (levels derive
    * from it); probe with the same value. `numSegments = 0` (the
    * default) auto-sizes to ~[[RowsPerSegment]] rows per graph. */
  def buildGraph(
      vectors: DataFrame, numSegments: Int = 0, segOffset: Int = 0,
      m: Int = 16, efConstruction: Int = 128,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val nSegs = if (numSegments > 0) numSegments else autoSegments(vectors.count())
    vectors.select(pmod(hash(col(idCol)), lit(nSegs)).cast("int").as("_1"),
        col(idCol).as("_2"), col(embCol).as("_3"))
      .repartition(nSegs, col("_1"))
      .as[(Int, Long, Array[Float])]
      .mapPartitions { it =>
        // a partition may hold several segments (hash collisions of the
        // seg key) — build one independent graph per segment
        it.toArray.groupBy(_._1).iterator.flatMap { case (seg, rows) =>
          val sorted = rows.sortBy(_._2)
          val idx = new SegmentIndex(sorted.map(_._2), sorted.map(_._3), m, efConstruction)
          var i = 0
          while (i < sorted.length) { idx.insert(i); i += 1 }
          sorted.indices.iterator.map(i =>
            (seg + segOffset, sorted(i)._2, idx.adjacencyIds(i), sorted(i)._3))
        }
      }.toDF("seg", "id", "adj", "emb")
  }

  /** Probe a persisted graph. The segment rows carry their vectors
    * (the Lucene segment layout — index and data co-reside), so the
    * probe is MAP-ONLY over the graph table: one shuffle-free pass
    * restores each segment's adjacency and beam-searches the broadcast
    * panel; the only join is the O(queries · segments · k) kernel
    * rerank against the surfaced candidate ids. `m` must match the
    * build. */
  def probeGraph(
      graph: DataFrame, queries: DataFrame, k: Int,
      m: Int = 16, efSearch: Int = 96,
      idCol: String = "vec_id", embCol: String = "embedding",
      excludeSelf: Boolean = true): DataFrame = {
    val spark = graph.sparkSession
    import spark.implicits._
    val panel = queries.select(col(idCol), col(embCol)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    val bc = spark.sparkContext.broadcast(panel)
    val segRows = graph
      .select(col("seg").as("_1"), col("id").as("_2"), col("adj").as("_3"), col("emb").as("_4"))
      .as[(Int, Long, Array[Array[Long]], Array[Float])]
    val pairs = segRows.mapPartitions { it =>
      // parquet preserves the build's file-per-segment layout, but a
      // reader may coalesce files — group by seg so each graph
      // restores whole regardless of the read partitioning
      it.toArray.groupBy(_._1).iterator.flatMap { case (_, rows) =>
        val sorted = rows.sortBy(_._2)
        val idx = new SegmentIndex(sorted.map(_._2), sorted.map(_._4), m, efConstruction = m)
        idx.restore(sorted.map(_._3))
        bc.value.iterator.flatMap { case (qid, qv) =>
          // +1 under self-exclusion: see searchTopK
          idx.search(qv, k + (if (excludeSelf) 1 else 0), efSearch)
            .iterator.map(nid => (qid, nid))
        }
      }
    }.toDF("query_id", "neighbor_id")
    val vectors = graph.select(col("id").as(idCol), col("emb").as(embCol))
    rerank(pairs, queries, vectors, k, idCol, embCol, excludeSelf)
  }

  /** Metadata-FILTERED probe with selectivity-adaptive oversampling —
    * the HNSW counterpart of
    * [[graft.ops.MlAnn.ivfProbeFilteredAdaptive]]: the graph indexes
    * the FULL corpus and the predicate arrives at query time as the
    * eligible-id set. The per-segment search width scales by
    * 1/selectivity, holding the EXPECTED eligible candidates at
    * oversample·k, then the survivors rerank to k. Below `exactCutoff`
    * selectivity the filtered corpus is already small and the probe
    * degenerates to the exact scan over survivors — correct and
    * selectivity-priced, the same escape hatch as the IVF path.
    *
    * Selectivity pricing costs ONE job, not three: `eligible` must be
    * drawn from the indexed corpus (the caller filters the same table
    * the graph indexes), so its own count IS the matched count — one
    * job over the filtered scan, never a graph-sized semi-join. The
    * index size comes from `totalHint` when the caller maintains it as
    * a build-time stat ([[graft.table.VectorTable.HnswIndexMeta]]
    * `rows` — the facade always passes it); the `graph.count()`
    * fallback serves ad-hoc graphs that never persisted a stat. */
  def probeGraphFiltered(graph: DataFrame, queries: DataFrame, k: Int,
      eligible: DataFrame,
      m: Int = 16, efSearch: Int = 96,
      idCol: String = "vec_id", embCol: String = "embedding",
      oversample: Int = 3, exactCutoff: Double = 0.05,
      excludeSelf: Boolean = true, totalHint: Long = -1L): DataFrame = {
    // NOT persisted: elig is read twice (the pricing count here + the
    // candidate join inside the RETURNED lazy plan), but a per-call
    // PlanCache.persist has no release point before the caller
    // materializes — a long-lived serving session would accumulate one
    // cached eligible set per filtered query. Recomputing the filtered
    // scan once is the bounded price of staying memory-flat.
    val elig = eligible.select(col(idCol).as("id"))
    val total = if (totalHint >= 0L) totalHint else graph.count()
    val matched = elig.count()
    val sel = if (total == 0) 1.0 else math.min(1.0, matched.toDouble / total)
    if (sel <= exactCutoff) {
      val vecs = graph.join(elig, Seq("id"), "left_semi")
        .select(col("id").as(idCol), col("emb").as(embCol))
      Similarity.bruteTopK(queries, vecs, k, idCol, embCol, excludeSelf)
    } else {
      val kEff = math.min(total, math.ceil(oversample * k / sel).toLong).toInt
      val cands = probeGraph(graph, queries, kEff, m,
        math.max(efSearch, 2 * kEff), idCol, embCol, excludeSelf)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("distance").asc, col("neighbor_id").asc)
      // explicit select: the Seq-key join reorders columns (key first)
      // and both branches must present the same (query, neighbor,
      // distance) contract
      cands.join(elig.select(col("id").as("neighbor_id")), Seq("neighbor_id"))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
        .select(col("query_id"), col("neighbor_id"), col("distance"))
    }
  }

  /** Distributed BULK-batch probe of a persisted graph — the
    * [[IvfPq.search]] design applied to segments: no driver-side query
    * collect, so the batch side scales past serving size (10k+ query
    * batches, the offline dedup/link join shape).
    *
    * Unlike IVF cells, HNSW segments are not selective — every query
    * must walk every segment's graph — so the fan-out is
    * (query × segment) BY CONSTRUCTION, not a pruning loss. The plan:
    * queries are exploded map-side to one probe row per (query,
    * segment) — the distinct segment ids are a bounded int list, one
    * tiny job — and CO-GROUPED with the graph rows on the segment id.
    * Each group restores its segment's adjacency once and beam-searches
    * its co-located probe rows; only (query_id, neighbor_id) pairs
    * leave the group. Shuffle cost: graph rows once (zero when the
    * graph table is already seg-partitioned) + queries × segments probe
    * rows; per-query work is O(segments · log segRows) exactly like the
    * serving path, so wall clock is linear in batch size. The rerank
    * tail joins without a broadcast hint — Spark broadcasts a small
    * query side on its own and shuffle-joins a bulk one. */
  def probeGraphBulk(
      graph: DataFrame, queries: DataFrame, k: Int,
      m: Int = 16, efSearch: Int = 96,
      idCol: String = "vec_id", embCol: String = "embedding",
      excludeSelf: Boolean = true): DataFrame = {
    val spark = graph.sparkSession
    import spark.implicits._
    val segIds = graph.select(col("seg")).distinct().collect().map(_.getInt(0)).sorted
    val fan = queries
      .select(explode(lit(segIds)).as("seg"), col(idCol).as("qid"), col(embCol).as("qv"))
      .as[(Int, Long, Array[Float])]
    val segRows = graph
      .select(col("seg"), col("id"), col("adj"), col("emb"))
      .as[(Int, Long, Array[Array[Long]], Array[Float])]
    val pairs = segRows.groupByKey(_._1).cogroup(fan.groupByKey(_._1)) {
      (_, rowIt, qIt) =>
        val rows = rowIt.toArray
        if (rows.isEmpty) Iterator.empty
        else {
          val sorted = rows.sortBy(_._2)
          val idx = new SegmentIndex(sorted.map(_._2), sorted.map(_._4), m, efConstruction = m)
          idx.restore(sorted.map(_._3))
          qIt.flatMap { case (_, qid, qv) =>
            // +1 under self-exclusion: see searchTopK
            idx.search(qv, k + (if (excludeSelf) 1 else 0), efSearch)
              .iterator.map(nid => (qid, nid))
          }
        }
    }.toDF("query_id", "neighbor_id")
    val vectors = graph.select(col("id").as(idCol), col("emb").as(embCol))
    rerank(pairs, queries, vectors, k, idCol, embCol, excludeSelf,
      hintBroadcastQueries = false)
  }

  /** Lucene-style segment merge policy: HNSW graphs don't merge
    * structurally, so compaction REBUILDS the vectors of every segment
    * at or below `maxRows` into `numSegments` fresh graphs (named from
    * `segOffset`, disjoint from survivors), passing larger segments
    * through untouched — the amortized maintenance that keeps probe
    * cost bounded while streaming appends accumulate small
    * batchId-keyed segments. Rebuild cost is proportional to the SMALL
    * segments only; a caller runs this when the small-segment count
    * crosses its merge threshold, exactly like a Lucene merge policy. */
  def compactSegments(
      graph: DataFrame, maxRows: Long, numSegments: Int, segOffset: Int,
      m: Int = 16, efConstruction: Int = 128): DataFrame = {
    val sizes = graph.groupBy(col("seg")).agg(count(lit(1)).as("n"))
    val small = broadcast(sizes.where(col("n") <= maxRows).select(col("seg")))
    val keep = graph.join(small, Seq("seg"), "left_anti")
    val rebuilt = buildGraph(
      graph.join(small, Seq("seg"))
        .select(col("id").as("vec_id"), col("emb").as("embedding")),
      numSegments, segOffset, m, efConstruction)
    keep.unionByName(rebuilt)
  }

  /** The Lucene merge-policy TRIGGER for a parquet-persisted graph:
    * when at least `mergeAt` segments have accumulated at or below
    * `maxRows` (the streaming-append regime — every micro-batch lands
    * a small segment), rebuild exactly those via [[compactSegments]]
    * and swap the graph directory; otherwise do nothing but one tiny
    * per-segment count. Rebuilt segments take NEGATIVE ids growing
    * downward from min(existing, 0) — append paths hand out
    * non-negative (batchId-keyed) ids, so repeated compactions and
    * future appends can never collide (a seg-id collision would
    * silently merge two graphs at restore time and degrade recall).
    * Swap is delete-then-rename — the single-writer contract of the
    * table layer (SURVEY.md §7.4); readers mid-swap belong to the same
    * job. Returns whether a compaction ran. */
  def compactIfNeeded(spark: org.apache.spark.sql.SparkSession, graphPath: String,
      maxRows: Long, mergeAt: Int,
      m: Int = 16, efConstruction: Int = 128): Boolean = {
    val graph = spark.read.parquet(graphPath)
    val sizes = graph.groupBy(col("seg")).agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    val small = sizes.filter(_._2 <= maxRows)
    if (small.length < mergeAt) false
    else {
      val nRebuilt = autoSegments(small.map(_._2).sum)
      val nextSeg = math.min(sizes.map(_._1).min, 0) - nRebuilt
      val merged = compactSegments(graph, maxRows,
        numSegments = nRebuilt,
        segOffset = nextSeg, m = m, efConstruction = efConstruction)
      val p = new org.apache.hadoop.fs.Path(graphPath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val tmp = new org.apache.hadoop.fs.Path(graphPath + "__compacting")
      merged.write.mode("overwrite").parquet(tmp.toString)
      fs.delete(p, true)
      graft.core.HadoopFs.rename(fs, tmp, p)
      true
    }
  }

  /** Exact rerank of surfaced (query_id, neighbor_id) pairs through the
    * codegen cosine kernel + portable rounding — identical scoring path
    * to [[Similarity.bruteTopK]], over O(queries · segments · k) rows. */
  private def rerank(
      pairs: DataFrame, queries: DataFrame, candidates: DataFrame, k: Int,
      idCol: String, embCol: String, excludeSelf: Boolean,
      hintBroadcastQueries: Boolean = true): DataFrame = {
    val qDf = queries.select(col(idCol).as("query_id"), col(embCol).as("q_emb"))
    val w = Window.partitionBy("query_id").orderBy(col("distance").asc, col("neighbor_id").asc)
    pairs
      .where(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .join(candidates.select(col(idCol).as("neighbor_id"), col(embCol).as("c_emb")),
        Seq("neighbor_id"))
      .join(if (hintBroadcastQueries) broadcast(qDf) else qDf, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        RoundPortableExpr.r(VectorFunctions.cosineDistance(col("c_emb"), col("q_emb")), 4)
          .as("distance"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .drop("rank")
  }
}
