package graft.ops

import graft.text.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Referential-integrity audit over a star/snowflake schema — the
  * data-quality gate an ingest runs BEFORE publishing a snapshot (the
  * dbt-test / Deequ relationship-check family as one bounded report):
  * per declared FK edge, the child row count, the orphan count (child
  * rows whose key finds no parent — NOT EXISTS semantics: a NULL child
  * key counts as an orphan, since an equality predicate never matches
  * NULL), the parent's distinct NON-NULL key count (count(DISTINCT pk)
  * semantics — a NULL parent key can never satisfy an FK, so it is not
  * a "key"), and how many parent key groups are duplicated (a "dim"
  * with repeated keys silently fans out every join against it; the NULL
  * group counts here — repeated NULL keys are a data defect too).
  *
  * Scale: each edge scans the child ONCE — the orphan count and the row
  * count come out of a single left join against the parent's DISTINCT
  * key list (one row per key, so the join cannot fan out even when the
  * parent has duplicate keys) followed by one bounded aggregate. At
  * 100 TB the fact-side edges are the cost, so halving their scans
  * matters; the parent side is two dim-sized passes (the key groupBy
  * feeds both the join list and the dup stats). AQE broadcasts
  * dim-sized parents; fact-fact edges shuffle on the key like any
  * equi-join. The report is |edges| rows — run it per ingest and diff
  * against yesterday's. */
object Audit {

  /** One FK edge declaration: `child.childKey` references
    * `parent.parentKey`. */
  final case class FkEdge(name: String, child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String)

  private def edgeReport(e: FkEdge): DataFrame = {
    // one row per distinct parent key (NULL group included) with its
    // multiplicity — feeds BOTH the orphan join (key list: distinct, so
    // no fanout) and the dup-key stats
    val pgrp = e.parent.groupBy(col(e.parentKey).as("_k"))
      .agg(count(lit(1)).as("_c"))
    // single child scan: left join against the distinct key list, then
    // count rows and unmatched rows in one aggregate. A NULL child key
    // never equals anything -> unmatched -> orphan (NOT EXISTS parity).
    val childStats = e.child.select(col(e.childKey).as("_k"))
      .join(pgrp.select(col("_k"), lit(true).as("_hit")), Seq("_k"), "left")
      .agg(count(lit(1)).cast(LongType).as("n_child"),
        sum(when(col("_hit").isNull, 1L).otherwise(0L)).cast(LongType)
          .as("n_orphan_child"))
    val pstats = pgrp.agg(
      count(col("_k")).cast(LongType).as("n_parent_keys"),
      sum(when(col("_c") > 1, 1L).otherwise(0L)).cast(LongType)
        .as("n_dup_parent_keys"))
    childStats.crossJoin(pstats)
      .select(lit(e.name).as("edge"), col("n_child"), col("n_orphan_child"),
        col("n_parent_keys"), col("n_dup_parent_keys"))
  }

  /** The audit report: one row per edge, in declaration order. */
  def fkAudit(edges: Seq[FkEdge]): DataFrame = {
    require(edges.nonEmpty, "fkAudit needs at least one edge")
    edges.map(edgeReport).reduce(_.unionByName(_))
  }

  /** Snapshot DIFF ledger — what changed between two corpus snapshots:
    * per id, content compared by md5, rolled up to (status, doc count,
    * old/new char mass) for status ∈ added / removed / changed /
    * unchanged. The read an ingest publishes next to its snapshot (and
    * the input to a retention/compaction decision: "removed" mass is
    * what [[graft.text.IncrDedup.compactIndex]] reclaims).
    *
    * Scale: one narrow hash projection per snapshot, one full outer
    * equi-join on the id, one 4-row aggregate with map-side partials —
    * content never moves, only (id, 32-char hash, length). */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    def side(df: DataFrame, h: String, l: String): DataFrame =
      df.select(col("doc_id").as("_id"),
        md5(col("text").cast("binary")).as(h),
        length(col("text")).cast(LongType).as(l))
    side(oldSnap, "_ho", "_lo")
      .join(side(newSnap, "_hn", "_ln"), Seq("_id"), "full_outer")
      .select(
        when(col("_ho").isNull, "added")
          .when(col("_hn").isNull, "removed")
          .when(col("_ho") === col("_hn"), "unchanged")
          .otherwise("changed").as("status"),
        coalesce(col("_lo"), lit(0L)).as("_lo"),
        coalesce(col("_ln"), lit(0L)).as("_ln"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"), sum("_lo").as("old_chars"),
        sum("_ln").as("new_chars"))
  }

  /** k-ANONYMITY audit over a quasi-identifier tuple — the privacy gate a
    * user-data pipeline runs before publishing: every row falls into the
    * equivalence class of its quasi-identifier values (the attributes an
    * adversary could link on), and a class smaller than `k` makes its
    * members re-identifiable. One summary row: class totals, singleton
    * classes, classes (and the rows they hold) below k, and the class-size
    * extremes — the numbers that decide whether a column must be
    * generalized (bucketed/truncated) before release.
    *
    * Scale: one narrow projection of the quasi-identifier columns, one
    * keyed aggregate with map-side partials, one 1-row rollup — the
    * audit never touches non-quasi columns. */
  def kAnonymity(df: DataFrame, quasiIds: Seq[org.apache.spark.sql.Column],
      k: Int): DataFrame = {
    require(k >= 2, "k must be at least 2")
    // project the quasi-identifier EXPRESSIONS once, then group on the
    // projected columns by name (re-applying the expressions after the
    // projection would reference columns the projection dropped)
    val projected = df.select(quasiIds: _*)
    require(projected.columns.distinct.length == projected.columns.length,
      s"kAnonymity: quasi-identifier output names collide " +
        s"(${projected.columns.mkString(", ")}) — alias duplicate " +
        "quasi-id expressions so each grouping column is unique")
    val classes = projected.groupBy(projected.columns.map(col): _*)
      .agg(count(lit(1)).as("_n"))
    classes.agg(count(lit(1)).as("n_classes"), sum("_n").as("n_rows"),
      sum(when(col("_n") === 1L, 1L).otherwise(0L)).as("n_singletons"),
      sum(when(col("_n") < k, 1L).otherwise(0L)).as("n_classes_below_k"),
      sum(when(col("_n") < k, col("_n")).otherwise(0L)).as("n_rows_below_k"),
      min("_n").as("min_class_size"), max("_n").as("max_class_size"))
  }

  /** l-DIVERSITY audit — [[kAnonymity]]'s sibling for ATTRIBUTE
    * disclosure: a class can be k-anonymous and still reveal its members'
    * sensitive value when all k of them share it (the homogeneity
    * attack). Per quasi-identifier class, the count of DISTINCT NON-NULL
    * sensitive values; one summary row mirrors the k-anonymity report:
    * class totals, classes below `l` (including all-NULL-sensitive
    * classes, which have diversity 0), the rows those classes hold, and
    * the diversity extremes — the numbers that decide whether the
    * sensitive column needs suppression before release.
    *
    * Scale: identical posture to [[kAnonymity]] — one narrow projection,
    * one keyed aggregate with map-side partials (count distinct inside a
    * class is bounded by the class), one 1-row rollup. */
  def lDiversity(df: DataFrame, quasiIds: Seq[org.apache.spark.sql.Column],
      sensitive: org.apache.spark.sql.Column, l: Int): DataFrame = {
    require(l >= 2, "l must be at least 2")
    val projected = df.select(quasiIds :+ sensitive.as("_sens"): _*)
    require(projected.columns.distinct.length == projected.columns.length,
      s"lDiversity: quasi-identifier output names collide " +
        s"(${projected.columns.dropRight(1).mkString(", ")}) — alias " +
        "duplicate quasi-id expressions (and none may be named _sens)")
    val qcols = projected.columns.dropRight(1)
    val classes = projected.groupBy(qcols.map(col): _*)
      .agg(count(lit(1)).as("_n"), countDistinct(col("_sens")).as("_l"))
    classes.agg(count(lit(1)).as("n_classes"), sum("_n").as("n_rows"),
      sum(when(col("_l") < l, 1L).otherwise(0L)).as("n_classes_below_l"),
      sum(when(col("_l") < l, col("_n")).otherwise(0L)).as("n_rows_below_l"),
      min("_l").as("min_diversity"), max("_l").as("max_diversity"))
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian 2007) — the third
    * rung of the privacy-audit triad after [[kAnonymity]] (class size)
    * and [[lDiversity]] (distinct sensitive values): a class can be
    * large AND diverse yet still leak by SKEW — its sensitive
    * distribution differing from the table's (the skewness attack the
    * paper opens with). For a categorical sensitive attribute the
    * published distance is EMD under uniform ground distance, which
    * reduces to total variation ½·Σ_v |p_class(v) − p_table(v)|.
    *
    * Computed EXACTLY in integers: with class size n_c, table size n,
    * value counts c_cv (class) and c_v (table), the distance is
    * `tv_num / tv_den` where tv_num = Σ_v |c_cv·n − c_v·n_c| and
    * tv_den = 2·n_c·n; values ABSENT from a class contribute c_v·n_c,
    * folded in closed form (Σ_absent c_v·n_c = n_c·n − Σ_present c_v·n_c)
    * so only class-present (class, value) rows are ever joined. The
    * threshold compare is exact rational arithmetic (tv_num·tDen >
    * tNum·tv_den), the reported max distance ONE IEEE division per class
    * — engine-exact throughout. Overflow bound: products stay ≤ n², so
    * exactness holds to n ≈ 3·10⁹ rows.
    *
    * Output (1 row): n_classes, n_rows, n_classes_above_t,
    * n_rows_above_t, max_t_distance.
    *
    * NULL sensitive values are a CATEGORY, not dropped: the class-value
    * counts and marginals group NULLs together (standard SQL GROUP BY),
    * and the join between them is null-safe — so a class whose sensitive
    * column is all-NULL still audits (its distance to the marginal is
    * measured like any other value's).
    *
    * Scale: two keyed aggregates (class-value counts, value marginals),
    * one null-safe equi-join on the sensitive value (still hash
    * partitioned), a class-keyed rollup, a 1-row finish — the
    * [[kAnonymity]] posture; nothing scales with value combinations that
    * don't occur. */
  def tCloseness(df: DataFrame, quasiIds: Seq[org.apache.spark.sql.Column],
      sensitive: org.apache.spark.sql.Column, tNum: Long,
      tDen: Long): DataFrame = {
    require(tNum >= 0 && tDen > 0 && tNum <= tDen,
      "tCloseness: t must be a rational in [0, 1] with positive denominator")
    val projected = df.select(quasiIds :+ sensitive.as("_sens"): _*)
    require(projected.columns.distinct.length == projected.columns.length,
      s"tCloseness: quasi-identifier output names collide " +
        s"(${projected.columns.dropRight(1).mkString(", ")}) — alias " +
        "duplicate quasi-id expressions (and none may be named _sens)")
    val qcols = projected.columns.dropRight(1)
    val cv = projected.groupBy(projected.columns.map(col): _*)
      .agg(count(lit(1)).as("_ccv"))
    val marginals = projected.groupBy("_sens").agg(count(lit(1)).as("_cv"))
    val totals = projected.agg(count(lit(1)).as("_n"))
    // the absolute-difference fold needs n_c on each (class, value) row
    // BEFORE aggregating — class sizes first, then the per-value fold
    val ncs = cv.groupBy(qcols.map(col): _*).agg(sum("_ccv").as("_nc"))
    // null-safe on the sensitive value: NULL is itself an observable
    // sensitive category (groupBy already groups NULLs together in both
    // engines; a plain equi-join would silently drop those classes'
    // mass). <=> keeps the join a hash-partitionable equi-join.
    val margSafe = marginals.withColumnRenamed("_sens", "_msens")
    // ...and null-safe on the quasi-id key too: groupBy made a class out
    // of NULL-keyed rows, so the class-size join must not drop it — a
    // plain equi-join here would silently vanish that class's mass from
    // n_classes/n_rows, the same dropped-mass failure mode the sensitive
    // join above guards against. Each <=> remains hash-partitionable.
    val ncsSafe = qcols.foldLeft(ncs)(
      (d, q) => d.withColumnRenamed(q, "_ncq_" + q))
    val ncsCond = qcols.map(q => col(q) <=> col("_ncq_" + q)).reduce(_ && _)
    val perClass = cv.join(margSafe, col("_sens") <=> col("_msens"))
      .drop("_msens")
      .join(ncsSafe, ncsCond)
      .drop(qcols.map("_ncq_" + _): _*)
      .crossJoin(broadcast(totals))
      .groupBy((qcols.map(col) :+ col("_nc") :+ col("_n")): _*)
      .agg(sum(abs(col("_ccv") * col("_n") - col("_cv") * col("_nc")))
        .as("_present"),
        sum(col("_cv") * col("_nc")).as("_presentMass"))
      .select(col("_nc"), col("_n"),
        (col("_present") + (col("_nc") * col("_n") - col("_presentMass")))
          .as("tv_num"),
        (col("_nc") * col("_n") * 2).as("tv_den"))
    perClass.agg(
      count(lit(1)).as("n_classes"),
      sum("_nc").as("n_rows"),
      sum(when(col("tv_num") * lit(tDen) > lit(tNum) * col("tv_den"), 1L)
        .otherwise(0L)).as("n_classes_above_t"),
      sum(when(col("tv_num") * lit(tDen) > lit(tNum) * col("tv_den"),
        col("_nc")).otherwise(0L)).as("n_rows_above_t"),
      max(col("tv_num").cast("double") / col("tv_den").cast("double"))
        .as("max_t_distance"))
  }

  /** k-anonymity GENERALIZATION — the actuator for [[kAnonymity]]'s
    * report: given a LADDER of progressively coarser quasi-identifier
    * encodings (rung 0 = the original tuple; each later rung generalizes
    * harder — wider buckets, truncation, '*' suppression, ending in a
    * fully-suppressed rung), pick the FIRST rung at which EVERY
    * equivalence class reaches `k`, and return that rung's class table
    * `(rung, quasi columns..., class_size)` — the release-ready recoding
    * plus the audit evidence (every class_size ≥ k by construction).
    * Global recoding: one rung applies to all rows, so the release schema
    * is consistent; all rungs must share arity, and values are compared as
    * strings (the release encoding). If NO rung qualifies (n_rows < k even
    * fully suppressed) the output is EMPTY — nothing is safe to release.
    *
    * Scale: ONE corpus scan — each row explodes into its |ladder| encoded
    * tuples (narrow, |ladder| is a handful), one keyed aggregate with
    * map-side partials builds every rung's classes together, the per-rung
    * minima are a |ladder|-row aggregate, and the chosen rung broadcasts
    * back as a cross-joined 1-row frame. The classes subtree appears twice
    * (rung choice + final filter) — AQE exchange reuse dedupes the
    * identical aggregate, the op_ann_recall pattern; at 100 TB persist it
    * explicitly if the optimizer is denied AQE. */
  def kGeneralize(df: DataFrame,
      ladder: Seq[Seq[org.apache.spark.sql.Column]], k: Int): DataFrame = {
    require(k >= 2, "k must be at least 2")
    require(ladder.nonEmpty, "ladder must be non-empty")
    require(ladder.forall(_.length == ladder.head.length),
      "every ladder rung must share the release schema (same arity)")
    val names = df.select(ladder.head: _*).columns.toSeq
    require(names.distinct.length == names.length,
      s"kGeneralize: quasi-identifier output names collide " +
        s"(${names.mkString(", ")}) — alias duplicate expressions")
    require(!names.contains("rung") && !names.contains("class_size"),
      "kGeneralize: rung/class_size are reserved output names")
    val encoded = ladder.zipWithIndex.map { case (qs, r) =>
      struct(lit(r).as("rung") +:
        qs.zip(names).map { case (c, n) => c.cast("string").as(n) }: _*)
    }
    val rows = df.select(explode(array(encoded: _*)).as("_t"))
      .select(col("_t.rung").as("rung") +:
        names.map(n => col(s"_t.$n").as(n)): _*)
    val classes = rows.groupBy(col("rung") +: names.map(col): _*)
      .agg(count(lit(1)).as("class_size"))
    val chosen = classes.groupBy("rung").agg(min("class_size").as("_mc"))
      .filter(col("_mc") >= k).agg(min("rung").as("_chosen"))
    classes.crossJoin(chosen).filter(col("rung") === col("_chosen"))
      .select(col("rung") +: names.map(col) :+ col("class_size"): _*)
  }

  /** l-DIVERSITY GENERALIZATION — the actuator for [[lDiversity]]'s audit,
    * [[kGeneralize]]'s ladder machinery re-aimed at the homogeneity
    * attack: pick the FIRST rung of the coarsening ladder at which EVERY
    * quasi-identifier class holds at least `l` DISTINCT NON-NULL sensitive
    * values (kGeneralize chose by min class SIZE; this chooses by min
    * class DIVERSITY — a bigger class isn't safer if all its members
    * share the sensitive value). Returns that rung's class table
    * `(rung, quasi columns..., class_size, n_sensitive)` — the
    * release-ready recoding plus the audit evidence (every n_sensitive ≥ l
    * by construction; re-running [[lDiversity]] on the chosen rung gives
    * n_classes_below_l = 0). NO rung qualifying (e.g. the sensitive column
    * itself has < l distinct values corpus-wide) → EMPTY output — nothing
    * is safe to release.
    *
    * Scale: identical posture to [[kGeneralize]] — ONE scan, rows explode
    * into all |ladder| encodings with the sensitive value carried along,
    * one keyed aggregate builds every rung's classes (count-distinct
    * inside a class is bounded by the class), the rung choice is a
    * |ladder|-row aggregate cross-joined back. */
  def lGeneralize(df: DataFrame,
      ladder: Seq[Seq[org.apache.spark.sql.Column]],
      sensitive: org.apache.spark.sql.Column, l: Int): DataFrame = {
    require(l >= 2, "l must be at least 2")
    require(ladder.nonEmpty, "ladder must be non-empty")
    require(ladder.forall(_.length == ladder.head.length),
      "every ladder rung must share the release schema (same arity)")
    val names = df.select(ladder.head: _*).columns.toSeq
    require(names.distinct.length == names.length,
      s"lGeneralize: quasi-identifier output names collide " +
        s"(${names.mkString(", ")}) — alias duplicate expressions")
    require(!names.exists(Set("rung", "class_size", "n_sensitive", "_sens")),
      "lGeneralize: rung/class_size/n_sensitive/_sens are reserved names")
    val encoded = ladder.zipWithIndex.map { case (qs, r) =>
      struct(lit(r).as("rung") +:
        qs.zip(names).map { case (c, n) => c.cast("string").as(n) }: _*)
    }
    val rows = df.select(explode(array(encoded: _*)).as("_t"),
        sensitive.as("_sens"))
      .select(col("_t.rung").as("rung") +:
        names.map(n => col(s"_t.$n").as(n)) :+ col("_sens"): _*)
    val classes = rows.groupBy(col("rung") +: names.map(col): _*)
      .agg(count(lit(1)).as("class_size"),
        countDistinct(col("_sens")).as("n_sensitive"))
    val chosen = classes.groupBy("rung").agg(min("n_sensitive").as("_md"))
      .filter(col("_md") >= l).agg(min("rung").as("_chosen"))
    classes.crossJoin(chosen).filter(col("rung") === col("_chosen"))
      .select(col("rung") +: names.map(col) :+
        col("class_size") :+ col("n_sensitive"): _*)
  }

  /** Differentially-private GROUP-COUNT release — the governance rung
    * after [[kGeneralize]]/[[lGeneralize]]: even a k-anonymous class
    * table leaks via its exact counts (a count changing by 1 between two
    * releases reveals one person's presence), so the standard fix is the
    * Laplace mechanism — release `count + Laplace(Δ/ε)` per group, Δ = 1
    * for counting queries. The noise here is the DIFFERENCE OF TWO
    * EXPONENTIALS (Exp(b) − Exp(b) ~ Laplace(b), b = 1/ε), each drawn as
    * −ln(u)/ε from a salted content hash of the group key via
    * [[Sampling.negLnU]]'s portable series — so the release is
    * deterministic and ENGINE-EXACT: both engines produce the
    * bit-identical noisy count. The noise quantizes to micro-units
    * (floor of an exact product of bit-identical doubles), so the noisy
    * count is an exact integer micro-count divided once.
    *
    * Determinism caveat, stated honestly: a REPLAYABLE release (same
    * data → same noise) is what a reproducible pipeline wants, but the
    * ε-DP guarantee then rests on the hash salt staying secret and the
    * release happening ONCE — re-releasing after one row changes gives
    * the classic averaging attack, exactly as it would with a cached
    * true-random release. The raw count never leaves this operator.
    *
    * Scale: one group-keyed count aggregate (map-side partials); the
    * noise is O(1) narrow arithmetic per GROUP, not per row. Output is
    * |groups| rows. */
  def dpCounts(df: DataFrame, keyCols: Seq[String],
      epsilon: Double = 1.0): DataFrame = {
    require(epsilon > 0, "dpCounts: epsilon must be positive")
    // the salt namespace has 1e-6 resolution: two epsilons rounding to
    // the same micro tag would SHARE a draw, re-enabling the exact
    // cross-epsilon composition attack — so epsilon must sit ON the grid.
    // Tolerance = representation error, not relative error: epsilon*1e6
    // carries at most a few ulps of double rounding, so 4*ulp admits any
    // genuinely grid-aligned value (incl. large ones where an absolute
    // 1e-9 would spuriously reject) WITHOUT going vacuous — a plain
    // relative 1e-9 grows past one whole micro-unit at eps >= ~1e3,
    // at which point every off-grid epsilon would pass (round-17 advice)
    require(epsilon >= 1e-6 &&
      math.abs(epsilon * 1e6 - math.round(epsilon * 1e6)) <
        math.max(1e-9, 4 * Math.ulp(epsilon * 1e6)),
      "dpCounts: epsilon must be a multiple of 1e-6 (the salt namespace " +
        "resolution — off-grid epsilons could collide into one namespace)")
    require(keyCols.nonEmpty, "dpCounts: at least one group column")
    require(!keyCols.exists(Set("noisy_count")),
      "dpCounts: noisy_count is a reserved output name")
    // U+0001-joined string form of the key: the oracle reproduces it with
    // concat_ws(chr(1), ...); NULL keys would drop from concat_ws in both
    // engines identically, but documents' keys are non-null anyway
    val keyStr = concat_ws("\u0001",
      keyCols.map(c => col(c).cast("string")): _*)
    // the salt namespace folds ε in (micro-encoded): releases at different
    // ε must draw INDEPENDENT noise, else two releases of the same table
    // solve exactly for the true count (2·noisy@ε − noisy@ε/2 = truth when
    // the (e1−e2) draw is shared)
    val epsTag = math.round(epsilon * 1e6).toString
    val e1 = Sampling.negLnU(Dedup.portableHash(
      concat(keyStr, lit(":dp+" + epsTag))))
    val e2 = Sampling.negLnU(Dedup.portableHash(
      concat(keyStr, lit(":dp-" + epsTag))))
    // Laplace(1/eps) in micro-units: every step from the two bit-identical
    // exponentials is one correctly-rounded IEEE op, then an exact floor
    // NoCodegen: keep the two 17-term ln chains OUT of the aggregation's
    // generated method (see graft.functions.NoCodegen — without the
    // boundary the whole agg stage falls back to interpreted eval)
    val noiseMicro = graft.functions.NoCodegen(
      floor((e1 - e2) / lit(epsilon) * lit(1000000.0)).cast(LongType))
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_n"))
      .withColumn("noisy_count",
        (col("_n") * lit(1000000L) + noiseMicro).cast("double") /
          lit(1000000.0))
      .drop("_n") // the true count must never leave
  }

  /** Differentially-private GROUP-SUM release — [[dpCounts]] for numeric
    * mass: a noisy `Σ value` per group, with each ROW's contribution first
    * CLIPPED to [0, clip] (the sensitivity bound: one row can move the sum
    * by at most Δ = clip, so the Laplace scale is clip/ε — without the
    * clip, one outlier row would make the release meaningless or the
    * noise unbounded; clipping is the published mechanism's precondition,
    * not a hack). Noise = difference of two salted-hash exponentials via
    * [[Sampling.negLnU]]'s portable series, scaled by clip/ε and floored
    * to micro-units — deterministic and bit-identical cross-engine, same
    * replayability caveat as [[dpCounts]] (salt secret, single release).
    * The true sum never leaves the operator.
    *
    * Scale: one group-keyed sum aggregate over the clipped column
    * (map-side partials); noise is O(1) per GROUP. |groups| output rows. */
  def dpSum(df: DataFrame, keyCols: Seq[String],
      value: org.apache.spark.sql.Column, clip: Long,
      epsilon: Double = 1.0): DataFrame = {
    require(epsilon > 0, "dpSum: epsilon must be positive")
    // same namespace-grid rule as dpCounts: off-grid epsilons could
    // collide into one salt namespace and share a draw
    // relative tolerance, same reasoning as dpCounts' guard
    require(epsilon >= 1e-6 &&
      math.abs(epsilon * 1e6 - math.round(epsilon * 1e6)) <
        math.max(1e-9, 4 * Math.ulp(epsilon * 1e6)),
      "dpSum: epsilon must be a multiple of 1e-6 (the salt namespace " +
        "resolution — off-grid epsilons could collide into one namespace)")
    require(clip > 0, "dpSum: clip must be positive")
    require(keyCols.nonEmpty, "dpSum: at least one group column")
    require(!keyCols.exists(Set("noisy_sum")),
      "dpSum: noisy_sum is a reserved output name")
    val keyStr = concat_ws("\u0001",
      keyCols.map(c => col(c).cast("string")): _*)
    // distinct salts from dpCounts' AND ε folded into the namespace, so
    // composing releases over the same groups — across mechanisms or
    // across epsilons — never reuses a draw
    val epsTag = math.round(epsilon * 1e6).toString
    val e1 = Sampling.negLnU(Dedup.portableHash(
      concat(keyStr, lit(":dps+" + epsTag))))
    val e2 = Sampling.negLnU(Dedup.portableHash(
      concat(keyStr, lit(":dps-" + epsTag))))
    // NoCodegen: the dpCounts boundary treatment (ln chains out of the
    // aggregation's generated method)
    val noiseMicro = graft.functions.NoCodegen(
      floor((e1 - e2) * lit(clip.toDouble) / lit(epsilon)
        * lit(1000000.0)).cast(LongType))
    val clipped = greatest(lit(0L), least(value.cast(LongType), lit(clip)))
    df.groupBy(keyCols.map(col): _*)
      .agg(sum(clipped).as("_s"))
      .withColumn("noisy_sum",
        (col("_s") * lit(1000000L) + noiseMicro).cast("double") /
          lit(1000000.0))
      .drop("_s") // the true sum must never leave
  }

  /** Differentially-private MEAN release via SEQUENTIAL COMPOSITION (the
    * Dwork–Roth composition theorem): mean = noisy clipped sum ÷ noisy
    * count, each mechanism running at ε/2 so the pair composes to the
    * caller's ε — the standard way to release a ratio, since a direct
    * mean has data-dependent sensitivity. The two mechanisms draw from
    * DISTINCT salt namespaces ([[dpSum]] `:dps±`, [[dpCounts]] `:dp±`,
    * each with ε micro-encoded into the salt), so the composed release
    * never reuses a draw — not across mechanisms, and not against a
    * standalone [[dpSum]]/[[dpCounts]] release at a different ε over the
    * same table (a shared draw at two epsilons would let an observer
    * solve the pair of releases exactly for the true value). A non-positive noisy
    * count makes the ratio meaningless — the published guidance is to
    * SUPPRESS, so noisy_avg is NULL there rather than a division by a
    * noise artifact. True sum/count never leave ([[dpSum]]/[[dpCounts]]
    * already guarantee it); the noisy components are released alongside
    * the ratio (they are post-processing of the same two draws — no
    * extra budget).
    *
    * Scale: the two group-keyed aggregates plus one group-keyed join;
    * noise O(1) per group. */
  def dpAvg(df: DataFrame, keyCols: Seq[String],
      value: org.apache.spark.sql.Column, clip: Long,
      epsilon: Double = 1.0): DataFrame = {
    require(epsilon > 0, "dpAvg: epsilon must be positive")
    // the ε/2 components must land on the component mechanisms' 1e-6
    // salt grid, so the composed ε needs 2e-6 resolution
    // relative tolerance, same reasoning as dpCounts' guard
    require(epsilon >= 2e-6 &&
      math.abs(epsilon * 5e5 - math.round(epsilon * 5e5)) <
        1e-9 * math.max(1.0, epsilon * 5e5),
      "dpAvg: epsilon must be a multiple of 2e-6 (each ε/2 component " +
        "must sit on the 1e-6 salt-namespace grid)")
    require(!keyCols.exists(Set("noisy_avg")),
      "dpAvg: noisy_avg is a reserved output name")
    require(clip > 0, "dpAvg: clip must be positive")
    require(keyCols.nonEmpty, "dpAvg: at least one group column")
    require(!keyCols.exists(Set("noisy_sum", "noisy_count")),
      "dpAvg: noisy_sum/noisy_count are reserved output names")
    // FUSED composition (r18): the sum and count components aggregate in
    // ONE group-keyed pass instead of dpSum ⋈ dpCounts (two corpus
    // aggregations + a join for the same groups). The noise expressions
    // below are textually the component mechanisms' own (same `:dps±` /
    // `:dp±` salt namespaces, same ε/2 micro-tag, same IEEE op order), so
    // every released value is bit-identical to the composed form — the
    // oracle mirror and AuditSpec's composition pins are unchanged.
    val eps2 = epsilon / 2
    val keyStr = concat_ws("\u0001",
      keyCols.map(c => col(c).cast("string")): _*)
    val epsTag = math.round(eps2 * 1e6).toString
    val s1 = Sampling.negLnU(Dedup.portableHash(
      concat(keyStr, lit(":dps+" + epsTag))))
    val s2 = Sampling.negLnU(Dedup.portableHash(
      concat(keyStr, lit(":dps-" + epsTag))))
    val noiseSumMicro = graft.functions.NoCodegen(
      floor((s1 - s2) * lit(clip.toDouble) / lit(eps2)
        * lit(1000000.0)).cast(LongType))
    val c1 = Sampling.negLnU(Dedup.portableHash(
      concat(keyStr, lit(":dp+" + epsTag))))
    val c2 = Sampling.negLnU(Dedup.portableHash(
      concat(keyStr, lit(":dp-" + epsTag))))
    val noiseCntMicro = graft.functions.NoCodegen(
      floor((c1 - c2) / lit(eps2) * lit(1000000.0)).cast(LongType))
    val clipped = greatest(lit(0L), least(value.cast(LongType), lit(clip)))
    // NULL-keyed rows are dropped BEFORE grouping (round 19, drains the
    // r18 advice item): the composed form this fusion claims bit-identity
    // to — dpSum(ε/2) ⋈ dpCounts(ε/2) on key EQUALITY — never released a
    // NULL-keyed group (NULL joins nothing), while a plain fused groupBy
    // would; the filter restores exact parity. It also closes the salt
    // collision the advisor flagged: a NULL key and an empty-string key
    // concat_ws to the SAME salt string, so without the filter a NULL
    // group would reuse an empty-string group's noise draw. AuditSpec pins
    // fused == composed on a NULL-keyed input.
    df.filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keyCols.map(col): _*)
      .agg(sum(clipped).as("_s"), count(lit(1)).as("_n"))
      .withColumn("noisy_sum",
        (col("_s") * lit(1000000L) + noiseSumMicro).cast("double") /
          lit(1000000.0))
      .withColumn("noisy_count",
        (col("_n") * lit(1000000L) + noiseCntMicro).cast("double") /
          lit(1000000.0))
      .drop("_s", "_n") // the true sum/count must never leave
      .withColumn("noisy_avg",
        when(col("noisy_count") > 0.0,
          col("noisy_sum") / col("noisy_count")))
  }

  /** Differentially-private QUANTILE release — POST-PROCESSING of a DP
    * histogram, the Dwork–Roth post-processing invariance: the histogram
    * release (noisy count per bin) carries the whole ε, and any function
    * of it — here the φ-quantile of the noisy CDF — costs NO extra
    * budget. Values clamp into the DECLARED public range [lo, hi] (the
    * dpSum clipping precondition — sensitivity must never depend on
    * data) and bucket into 64 equal-width integer bins over that
    * fixed public domain; EVERY bin releases, empty ones included (a
    * missing bin would leak emptiness), each with an independent
    * Laplace(1/ε) draw from the `:dpq±` salt namespace — ε AND the bin
    * index micro-encoded, so no two bins (and no other mechanism or
    * epsilon) ever share a draw. The released quantile is the LOWER
    * EDGE of the first bin whose noisy cumulative mass reaches
    * φ = phiNum/2 of the noisy total — an exact integer compare in
    * micro-units (`cum·2 ≥ tot·phiNum`), no float accumulation, so
    * the release is bit-identical cross-engine. A non-positive noisy
    * total suppresses (NULL q_bin/q_value — the dpAvg rule); otherwise
    * the last bin always satisfies the compare (cum at the last bin IS
    * the total), so the argmin is total. Key groups are data-dependent
    * like [[dpCounts]]'s — the release protects counts within declared
    * groups, documented there. True bin counts never leave.
    *
    * Scale: one group-keyed bin count (map-side partials), a per-key
    * bin-grid explode BOUNDED at 64 rows per key, cumulative
    * windows over ≤ 64 rows per partition, one keyed argmin.
    * Noise is O(1) narrow arithmetic per (key, bin). */
  def dpQuantile(df: DataFrame, keyCols: Seq[String],
      value: org.apache.spark.sql.Column, lo: Long, hi: Long,
      phiNum: Long = 1L, epsilon: Double = 1.0): DataFrame = {
    require(epsilon > 0, "dpQuantile: epsilon must be positive")
    require(epsilon >= 1e-6 &&
      math.abs(epsilon * 1e6 - math.round(epsilon * 1e6)) <
        math.max(1e-9, 4 * Math.ulp(epsilon * 1e6)),
      "dpQuantile: epsilon must be a multiple of 1e-6 (the salt " +
        "namespace resolution)")
    require(lo < hi, "dpQuantile: lo must be below hi")
    require(phiNum >= 1L && phiNum <= 2L,
      "dpQuantile: phi must be a rational in (0, 1]")
    require(keyCols.nonEmpty, "dpQuantile: at least one group column")
    require(!keyCols.exists(Set("q_bin", "q_value", "noisy_total")),
      "dpQuantile: q_bin/q_value/noisy_total are reserved output names")
    val w = (hi - lo + 1L + 63L) / 64L
    val epsTag = math.round(epsilon * 1e6).toString
    val clamped = greatest(lit(lo), least(value.cast(LongType), lit(hi)))
    // integer `div`, not `/`: the bin id must be exact integer floor
    // division in both engines at ANY range width
    val cnt = df.withColumn("_dpq_v", clamped)
      .withColumn("_bin", expr(s"(_dpq_v - ${lo}L) div ${w}L"))
      .groupBy((keyCols.map(col) :+ col("_bin")): _*)
      .agg(count(lit(1)).as("_n"))
    // the FULL public bin grid per key group: empty bins must release
    // noise too, else absence itself leaks. Groups (and the U+0001 key
    // string) follow the dpCounts convention — keys are expected
    // non-null (a NULL key never equi-joins its counts back).
    val grid = df.select(keyCols.map(col): _*).distinct()
      .withColumn("_bin",
        explode(sequence(lit(0L), lit(63L))))
    val full = grid.join(cnt, keyCols :+ "_bin", "left")
      .withColumn("_n", coalesce(col("_n"), lit(0L)))
    val keyStr = concat_ws("\u0001",
      keyCols.map(c => col(c).cast("string")): _*)
    val binTag = concat(keyStr, lit(":dpq+" + epsTag + ":"),
      col("_bin").cast("string"))
    val binTag2 = concat(keyStr, lit(":dpq-" + epsTag + ":"),
      col("_bin").cast("string"))
    val e1 = Sampling.negLnU(Dedup.portableHash(binTag))
    val e2 = Sampling.negLnU(Dedup.portableHash(binTag2))
    val noiseMicro = graft.functions.NoCodegen(
      floor((e1 - e2) / lit(epsilon) * lit(1000000.0)).cast(LongType))
    val nm = full.withColumn("_nm",
      col("_n") * lit(1000000L) + noiseMicro).drop("_n")
    val byKey = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
    val cum = nm
      .withColumn("_cum", sum("_nm").over(byKey.orderBy("_bin")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)))
      .withColumn("_tot", sum("_nm").over(byKey))
    // ONE aggregate pass over the windowed frame: min(when(...)) ignores
    // non-qualifying rows, so the crossing bin AND the total come out
    // together — the hit/totals-join formulation computed the whole
    // noisy-CDF subtree twice (plan-audited, round 17). NULL q_bin (no
    // qualifying bin == non-positive total) IS the suppression.
    cum.groupBy(keyCols.map(col): _*)
      .agg(max("_tot").as("_totm"),
        min(when(col("_tot") > 0L &&
          col("_cum") * lit(2L) >= col("_tot") * lit(phiNum),
          col("_bin"))).as("q_bin"))
      .select((keyCols.map(col) :+ col("q_bin") :+
        (lit(lo) + col("q_bin") * lit(w)).as("q_value") :+
        (col("_totm").cast("double") / lit(1000000.0)).as("noisy_total")): _*)
  }

  /** Train/eval SPLIT-LEAKAGE audit: exact-duplicate content (by the
    * whitespace-normalized [[graft.text.TextOps.fingerprint]]) that the
    * deterministic [[Sampling.assignSplit]] scattered across DIFFERENT
    * splits — the benchmark-integrity failure a decontamination review
    * must catch (duplicates WITHIN a split merely waste tokens; across
    * splits they leak training data into eval). One summary row:
    * fingerprint/doc totals, duplicate groups, leaky groups, and the
    * docs those leaky groups hold.
    *
    * Scale: one narrow fingerprint+split projection, one
    * fingerprint-keyed aggregate (map-side partials), one 1-row rollup.
    * The id-keyed split hash and the content-keyed fingerprint are
    * INDEPENDENT by construction — which is exactly why dup content
    * scatters and the audit is necessary. */
  def splitLeakage(docs: DataFrame,
      hash: org.apache.spark.sql.Column): DataFrame = {
    val withSplit = Sampling.assignSplit(docs, hash)
    val groups = withSplit
      .select(graft.text.TextOps.fingerprint(col("text")).as("_fp"),
        col("split"))
      .groupBy("_fp")
      .agg(count(lit(1)).as("_n"), countDistinct(col("split")).as("_ns"))
    groups.agg(count(lit(1)).as("n_fingerprints"), sum("_n").as("n_docs"),
      sum(when(col("_n") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
      sum(when(col("_ns") > 1, 1L).otherwise(0L)).as("n_leaky_groups"),
      sum(when(col("_ns") > 1, col("_n")).otherwise(0L)).as("n_leaky_docs"))
  }
}
