package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import org.apache.spark.storage.StorageLevel

/** DataFrame-native graph analytics over edge lists — the relational
  * formulation (joins + aggregates) that scales with Spark's shuffle
  * machinery instead of requiring a graph runtime. Connected components
  * live in [[graft.text.Dedup.dedupClusters]]; this object holds the
  * co-occurrence graph builder and triangle counting.
  */
object Graph {

  /** Undirected distinct edges from co-occurrence: two items are
    * connected iff they appear under the same group key (parts in one
    * order, tokens in one doc, ...). Edges are canonical `x < y` rows.
    *
    * Scale: one equi-join keyed on the group — per-group work is
    * C(group size, 2), so edge volume is bounded by the group-size
    * distribution, not the corpus (cap group size upstream for hub
    * groups, as the dedup family does with maxDf). */
  def cooccurrenceEdges(df: DataFrame, group: Column, item: Column): DataFrame = {
    val l = df.select(group.as("g"), item.as("x")).distinct()
    val r = l.select(col("g"), col("x").as("y"))
    l.join(r, "g").filter(col("x") < col("y"))
      .select("x", "y").distinct()
  }

  /** Degree distribution of the undirected graph: for each observed
    * degree, how many vertices carry it — the first diagnostic anyone
    * runs on a graph (skew, hubs, connectivity shape), and the input to
    * hub-cap parameter choices like the dedup family's maxDf.
    *
    * Scale: two hash aggregates with map-side partials (vertex degree,
    * then degree histogram); output is bounded by the number of DISTINCT
    * degrees (≤ max degree), independent of graph size. */
  def degreeHistogram(edges: DataFrame): DataFrame =
    edges.select(col("x").as("v")).unionByName(edges.select(col("y").as("v")))
      .groupBy("v").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_vertices"))

  /** Triangle count by per-edge ADJACENCY INTERSECTION over a
    * degree-ordered orientation: every edge points from its lower endpoint
    * to its higher one under the total order (degree, id), packed into one
    * long key (degree in the high bits, id in the low 32 — so vertex ids
    * must lie in [0, 2^32); renumber upstream for wider id spaces). Any
    * total order finds the same triangle set; degree order gives hub
    * vertices tiny out-degrees. Build each low vertex's sorted
    * out-neighbor array once, then for every oriented edge (u, w) count
    * `|N⁺(u) ∩ N⁺(w)|` — each triangle is found exactly once, at its
    * closing edge. Returns one row: (n_edges, n_triangles).
    *
    * Identical result to the wedge join (the compact-forward formulation:
    * wedges = out-neighbor pairs of the low vertex, closed by a join); the
    * difference is what flows through the engine: the wedge formulation
    * materializes Σ C(outdeg, 2) rows (41M on the sf0.1 co-purchase
    * graph) through a shuffle, while this streams the E edge rows (1.2M)
    * against a vertex-count-bounded neighbor-array frame and does the
    * wedge enumeration INSIDE `array_intersect` — same comparison count,
    * no per-wedge row machinery. Measured (warm, local[32]): 2.8-3.5 s →
    * 1.6-2.1 s at sf0.1, and 12-13 s → 2.2-2.7 s at ×10 — the wedge
    * join's cost tracks materialized wedge rows while this tracks edge
    * rows, so the gap WIDENS with graph size.
    *
    * Scale: the neighbor frame is one groupBy over the oriented edges
    * (arrays total exactly E entries — the edge list regrouped, so
    * "fits memory" means the edge list fits, two longs per edge); both
    * probe joins are plain equi-joins, so when the neighbor frame outgrows
    * broadcast, AQE falls back to shuffle joins keyed on u / w and the
    * plan still never materializes wedges. Out-degrees are capped by the degree
    * orientation (≤ √(2E)), bounding every intersect. */
  def triangleCountAdj(edges: DataFrame): DataFrame = {
    val e = edges.select("x", "y")
    val deg = e.select(col("x").as("v")).unionByName(e.select(col("y").as("v")))
      .groupBy("v").agg(count(lit(1)).as("dg"))
    val key = (d: Column, v: Column) => d * lit(4294967296L) + v
    val keyed = e
      .join(deg.select(col("v").as("x"), col("dg").as("dgx")), "x")
      .join(deg.select(col("v").as("y"), col("dg").as("dgy")), "y")
      .select(key(col("dgx"), col("x")).as("kx"),
        key(col("dgy"), col("y")).as("ky"))
    // pre-partitioned on u (the [[pageRank]] adjacency discipline): the
    // cached partitioning serves the neighbor-array groupBy AND the first
    // probe join exchange-free; only the w-keyed close join re-exchanges
    val oriented = keyed.select(
      least(col("kx"), col("ky")).as("u"),
      greatest(col("kx"), col("ky")).as("w"))
      .repartition(col("u")).persist(StorageLevel.MEMORY_AND_DISK)
    val nbrs = oriented.groupBy("u")
      .agg(sort_array(collect_list(col("w"))).as("ns"))
    // The w-keyed close join is the ONE exchange that must move neighbor
    // arrays (any exact distributed count co-locates N⁺(u) with N⁺(w) per
    // closing edge, or enumerates wedges — this formulation does it once).
    // Shrink what it moves (guide §2.3, r19): every element of ns_w
    // EXCEEDS w (the degree orientation points edges upward in the total
    // order), so ns_u entries ≤ w can never intersect — prune them BEFORE
    // the exchange (sorted arrays: the survivors are a suffix), drop u
    // (unused downstream), and drop edge rows whose candidate set pruned
    // empty (they contribute 0). On the sf0.1 co-purchase graph this
    // halves the array bytes and removes ~40% of the rows the w-exchange
    // carries; the count is provably unchanged.
    val tri = oriented
      .join(nbrs.select(col("u"), col("ns").as("ns_u")), "u")
      .select(col("w"), filter(col("ns_u"), x => x > col("w")).as("ns_c"))
      .filter(size(col("ns_c")) > 0)
      .join(nbrs.select(col("u").as("w"), col("ns").as("ns_w")), "w")
      .select(size(array_intersect(col("ns_c"), col("ns_w"))).as("k"))
      .agg(coalesce(sum("k"), lit(0L)).as("n_triangles"))
    e.agg(count(lit(1)).as("n_edges")).crossJoin(tri)
  }

  /** PageRank over canonical `x < y` undirected edges, in FIXED-POINT
    * integer arithmetic so every iteration is deterministic and
    * cross-engine reproducible: ranks are longs scaled by `Scale` (1e12),
    * each vertex sends `rank div outdeg` along its out-edges, and the
    * update is `base + (85 * inSum) div 100` with
    * `base = (15% of Scale) div n` — floor division throughout, so integer
    * sums (order-independent) are the only aggregation and no
    * order-dependent float accumulation exists anywhere. The graph is
    * symmetrized (both directions of every edge), which also removes
    * dangling vertices by construction; isolated vertices (no edges) are
    * out of scope of the edge list and excluded.
    *
    * Scale: per iteration = one join of the rank frame against the
    * degree-annotated adjacency (shuffle keyed on source) + one aggregate
    * keyed on destination — the standard distributed formulation with
    * map-side partial sums. Iterations are a fixed small constant; at
    * production scale persist/checkpoint the rank frame per iteration to
    * cut lineage (here the whole computation stays ONE lazy plan, which
    * AQE replans per stage). The vertex count lands as a literal via one
    * bounded aggregate action (a single long), mirroring how a real
    * driver program owns the iteration loop.
    *
    * Returns the `topK` vertices by (rank desc, vertex asc) as
    * `(v, rank_fp)` — TakeOrderedAndProject, never a global sort.
    *
    * Caching: the degree and adjacency persists (two longs per vertex +
    * three longs per directed edge) stay persisted for the session — the
    * library's one cache lifetime, measured harmless at the catalog's own
    * budget (PLANS.md round-9 audit: all session persists together are
    * ~0.2% of the heap). A caller sweeping MANY DISTINCT graphs in one
    * long-lived session frees them with `spark.catalog.clearCache()`
    * between graphs. */
  def pageRank(edges: DataFrame, iterations: Int = 2, topK: Int = 20): DataFrame = {
    require(iterations >= 1 && iterations <= 10, "iterations must be in [1, 10]")
    val Scale = 1000000000000L
    val sym = edges.select(col("x").as("s"), col("y").as("d"))
      .unionByName(edges.select(col("y").as("s"), col("x").as("d")))
    // deg feeds the vertex-count action AND the adjacency join — persist
    // (vertex-count-bounded, two longs per vertex) so the count action
    // reads cache instead of re-aggregating the edge list
    val deg = sym.groupBy("s").agg(count(lit(1)).as("dg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the degree-annotated adjacency appears once PER UNROLLED ITERATION
    // in the final lazy plan (iteration i's plan nests iteration i-1's) —
    // persist it so the symmetrize + degree join runs once, not
    // `iterations` times. Three longs per directed edge; this is the
    // frame a production deployment would checkpoint anyway.
    // PRE-PARTITIONED on the join key: the cached partitioning satisfies
    // every iteration's join requirement, so the per-iteration plan
    // re-exchanges only the (vertex-sized) rank frame, never the edge-
    // sized adjacency (round-18 plan audit: the unpartitioned cache was
    // re-exchanged once per iteration).
    val adj = sym.join(deg, "s").repartition(col("s"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = deg.count() // one bounded action: the vertex count scalar
    require(n > 0, "pageRank needs a non-empty edge list")
    val base = (Scale * 15L / 100L) / n
    var ranks = deg.select(col("s").as("v"), lit(Scale / n).as("r"))
    for (_ <- 1 to iterations) {
      // build side = the vertex-sized rank frame: a hash join streams the
      // cached adjacency with NO sort (SMJ sorted the edge-sized side
      // every iteration); per-partition build is V/shuffle.partitions
      // rows — the deployment sizes partitions so that fits, same as any
      // keyed aggregation over the rank frame
      ranks = adj.join(ranks.hint("shuffle_hash"), col("s") === col("v"))
        .select(col("d"), expr("r div dg").as("c"))
        .groupBy("d").agg(sum("c").as("cs"))
        .select(col("d").as("v"), (lit(base) + expr("(85 * cs) div 100")).as("r"))
    }
    ranks.orderBy(desc("r"), asc("v")).limit(topK)
      .select(col("v"), col("r").as("rank_fp"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) made
    * DETERMINISTIC — community detection without a modularity solver:
    * every vertex starts as its own label; each round every vertex adopts
    * the most frequent label among its neighbors, ties broken by the
    * SMALLEST label (the published algorithm breaks ties randomly, which
    * no oracle could check; the deterministic rule keeps the same
    * fixed-point family). `rounds` is a small pinned constant — the
    * algorithm's published behavior is near-convergence in ~5 sweeps.
    * Output: the `topK` largest communities as (community, n_members),
    * size desc, label tie-break.
    *
    * Vertex ids are GENERIC (any orderable type — numeric or string):
    * the min-label tie-break orders `struct(−count, label)` ascending, so
    * only the COUNT (always a long) is ever negated, never the label.
    *
    * Scale: each round is one edge-keyed equi-join (current labels onto
    * the symmetric edge list), one (vertex, label)-keyed count with
    * map-side partials, and one per-vertex argmax via `min(struct)` — the
    * shuffle carries O(E) rows per round, never anything quadratic, and
    * hub mitigation belongs upstream in the edge builder (the
    * [[cooccurrenceEdges]] group-size note). The symmetrized edge list
    * appears in every unrolled round of the final lazy plan, so it is
    * persisted for the session exactly like [[pageRank]]'s adjacency (two
    * ids per directed edge) — without it the edge build re-runs per
    * round. For integral ids, one eager min/max action over that persisted
    * edge list runs at call time, before any result action: it picks the
    * packed-long or the struct argmax path. */
  def labelPropagation(edges: DataFrame, rounds: Int = 3,
      topK: Int = 100): DataFrame = {
    require(rounds >= 1 && rounds <= 8, "labelPropagation: rounds in [1, 8]")
    require(topK >= 1, "labelPropagation: topK must be positive")
    // pre-partitioned on the join key, like [[pageRank]]'s adjacency: the
    // cached partitioning satisfies every round's join requirement, so
    // only the vertex-sized label frame re-exchanges per round (the
    // round-18 plan audit found the unpartitioned cache re-exchanged its
    // edge-sized rows every round)
    val sym =
      edges.select(col("x").as("s"), col("y").as("d"))
        .unionByName(edges.select(col("y").as("s"), col("x").as("d")))
        .repartition(col("s")).persist(StorageLevel.MEMORY_AND_DISK)
    var labels = sym.select(col("s").as("v")).distinct()
      .withColumn("lbl", col("v"))
    // Labels can only ever be vertex ids (round 0 sets lbl = v; every
    // later round adopts an existing label), so the per-round argmax
    // tie-break order on (−count, label) admits a PACKED-LONG fast path
    // whenever ids are integral and in [0, 2^32) — the same id contract
    // [[triangleCountAdj]]'s order key pins, here guarded in-plan: pack
    // (−count)·2^32 + label into ONE long and take min. min(long) hash-
    // aggregates, where min(struct) forces a SortAggregate pair (struct
    // buffers are not hash-aggregable) that sorted the edge-sized count
    // frame twice per round. Non-integral (e.g. string) ids keep the
    // struct path — identical fixed point, PackSpec pins the equality.
    val integralType = labels.schema("lbl").dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    // Per-dataset path choice (round 19, drains the r18 advice item): the
    // packed-long order is only valid for ids in [0, 2^32), so CHECK the
    // id range up front with one bounded aggregate over the persisted edge
    // cache instead of raise_error-ing mid-aggregation — integral ids
    // outside the range (e.g. negative longs) now take the struct path,
    // which handles any orderable id, exactly as they did before the
    // packed fast path existed. One extra driver action per call, over the
    // vertex-distinct of the already-persisted sym frame (the same
    // bounded-action pattern as pageRank's vertex count).
    val integral = integralType && {
      // min/max over the symmetric edge sources covers every vertex (and
      // so every possible label) without paying the labels distinct
      val r = sym.agg(min(col("s").cast(LongType)).as("mn"),
        max(col("s").cast(LongType)).as("mx")).head()
      !r.isNullAt(0) && r.getLong(0) >= 0L && r.getLong(1) < 4294967296L
    }
    for (_ <- 1 to rounds) {
      val cnt = sym.join(labels.hint("shuffle_hash"), col("s") === col("v"))
        .groupBy(col("d"), col("lbl")).agg(count(lit(1)).as("_c"))
      labels =
        if (integral) {
          // belt-and-braces guard rides the (already aggregated) count
          // rows: the id range is pre-checked above, so only a count
          // ≥ 2^31 (a vertex with two billion same-label neighbors) can
          // still fire it — fail loudly rather than corrupt the order
          val lbl = col("lbl").cast(LongType)
          val guarded = when(
            lbl >= 0L && lbl < lit(4294967296L) && col("_c") < lit(2147483648L),
            (-col("_c")) * lit(4294967296L) + lbl)
            .otherwise(raise_error(concat(
              lit("labelPropagation packed path: vertex id/count out of "),
              lit("range — ids must be in [0, 2^32); renumber upstream"))))
          cnt.select(col("d"), guarded.as("_p"))
            .groupBy("d").agg(min("_p").as("_m"))
            .select(col("d").as("v"),
              pmod(col("_m"), lit(4294967296L))
                .cast(labels.schema("lbl").dataType).as("lbl"))
        } else {
          cnt.groupBy("d")
            // most-frequent label, ties -> SMALLEST label: ascending struct
            // order on (−count, label) — the count is negated, not the
            // label, so string-keyed vertex ids order correctly too
            .agg(min(struct((-col("_c")).as("nc"), col("lbl"))).as("_m"))
            .select(col("d").as("v"), col("_m.lbl").as("lbl"))
        }
    }
    labels.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(desc("n_members"), asc("community"))
      .limit(topK)
  }
}
