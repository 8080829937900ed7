package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftQuery
import graft.sources.Tables

/** Fixed-point (all-integer) PageRank over the bipartite part↔supplier
  * graph derived from lineitem.
  *
  * Why fixed-point: floating-point PageRank is a hash lottery — per-node
  * contribution sums are order-dependent doubles. Instead ranks live as
  * 64-bit integers scaled by 10^12 and every update is integer-only:
  *
  *   R0(u)   = SCALE div N
  *   C(u)    = R(u) div deg(u)               (deg ≥ 1 by construction)
  *   R'(u)   = (3·(SCALE div N)) div 20  +  (17 · Σ_{v→u} C(v)) div 20
  *
  * i.e. damping 0.85 = 17/20 as exact integer multiply-then-divide. Both
  * engines floor identical non-negative integers, so three iterations are
  * bit-reproducible with no decimal detour. Rank mass stays ≤ SCALE = 10^12,
  * so 17·Σ ≤ 1.7·10^13 — no 64-bit overflow anywhere.
  *
  * Scale shape: edges/degrees/ranks are all keyed by node id. The degree
  * folds into a reliably-checkpointed (src, dst, deg) edge list once; each
  * iteration is then ONE shuffled hash join on the node key (build side =
  * the rank table) plus the mandatory dst-aggregation shuffle, and the
  * identical edge-scan exchanges collapse across iterations via
  * ReuseExchange. Nothing is broadcast: rank/degree tables are O(nodes),
  * which at web scale exceeds any broadcast limit, so this is the same
  * plan a 1000-executor run would want. Iteration count is fixed (3), so
  * the lineage stays shallow.
  */
object GraphRank {

  private val SCALE = 1000000000000L // 10^12

  /** Reliable checkpoint dir, set once per session. Iterative round state
    * is RELIABLY checkpointed (not persisted, not localCheckpoint'd):
    * a `persist(MEMORY_AND_DISK)` frame keeps its FULL lineage back to the
    * parquet scan, so under executor memory pressure block eviction
    * silently re-runs every preceding round — cost compounding per round,
    * which at 100× scale (where eviction is the norm) turns a linear
    * iteration quadratic. `localCheckpoint` cuts lineage but stores the
    * only copy in executor memory — an evicted/lost block is UNRECOVERABLE.
    * Reliable `checkpoint()` writes each round's O(nodes)/O(edges) state to
    * durable storage and reads it back on demand: bounded I/O, zero
    * recompute, survives eviction and (on a cluster) executor loss.
    * Production points this at HDFS/object storage; the harness default is
    * the local tmpdir.
    */
  private def ensureCheckpointDir(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    if (sc.getCheckpointDir.isEmpty) {
      val dir = new org.apache.hadoop.fs.Path(
        System.getProperty("java.io.tmpdir"), s"graft-ckpt-${sc.applicationId}")
      sc.setCheckpointDir(dir.toString)
      // GraftSession's cleaner.referenceTracking.cleanCheckpoints reclaims a
      // checkpoint only once its RDD is GC'd; whatever is still live at
      // exit (and any session built elsewhere) goes with the dir. The dir
      // is per-appId, so a JVM-exit hook deleting it leaks nothing across
      // sessions and races nothing within one (checkpoints are only read
      // while the JVM lives).
      sys.addShutdownHook {
        try dir.getFileSystem(new org.apache.hadoop.conf.Configuration())
          .delete(dir, true)
        catch { case _: Exception => () }
      }
    }
  }

  def q143FixedPointPagerank(spark: SparkSession, dir: String): DataFrame = {
    ensureCheckpointDir(spark)
    // Materialize the distinct pair set once — it feeds both directions of
    // the edge union (and the node count below), and the union is then a
    // map-only read of the checkpoint files with no cache-population race
    // between the two branches.
    val pairs = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("s")).distinct()
      .checkpoint()
    val edges = pairs.select((col("p") * 2).as("src"), (col("s") * 2 + 1).as("dst"))
      .union(pairs.select((col("s") * 2 + 1).as("src"), (col("p") * 2).as("dst")))
    // Fold the degree INTO the edge list once (src, dst, deg-of-src): the
    // per-iteration plan then needs a single join — edges⋈ranks on the node
    // key — instead of the textbook two (ranks⋈deg, then edges⋈contrib).
    // The contribution r div deg is computed inside the aggregation, so
    // integer semantics are untouched. The build join's output is already
    // clustered on src (both inputs exchange to the src key), so the
    // checkpointed degEdges needs no extra repartition, and identical
    // degEdges-scan exchanges across iterations collapse via ReuseExchange.
    // Degree folded in with a WINDOW COUNT over the src partition instead
    // of a groupBy + self-join: the join form computes the edge union TWICE
    // (agg build + probe) and shuffles twice; the window computes edges
    // once and shuffles once — same rows, one fewer pass over the heavy
    // side (nothing broadcast: the window is partition-local after its
    // exchange). RELIABLY checkpointed (eager), not persisted: the three
    // per-iteration reads come off durable checkpoint files with NO lineage
    // back to the parquet scan, so memory pressure can never silently
    // re-run the build (the r8 driver-bench blowup mode — see
    // ensureCheckpointDir).
    val degEdges = edges
      .withColumn("deg", count(lit(1)).over(Window.partitionBy(col("src"))))
      .select(col("src"), col("dst"), col("deg"))
      .checkpoint()
    // node count in one pass over the (small, cached) pair set:
    // nodes = distinct parts + distinct suppliers (bipartite, every node
    // has out-edges) — avoids materializing a separate degree table.
    val nd = pairs.agg(countDistinct(col("p")).as("np"), countDistinct(col("s")).as("ns")).head
    val n = nd.getLong(0) + nd.getLong(1)
    val base = 3L * (SCALE / n) / 20L
    val r0 = SCALE / n
    // Iteration 1 is join-free: with uniform initial rank r0 a constant,
    // R1(dst) is a plain aggregation over degEdges.
    var ranks = degEdges
      .groupBy(col("dst"))
      .agg(expr(s"$base + (17 * sum($r0 div deg)) div 20").as("r"))
      .select(col("dst").as("node"), col("r"))
    for (_ <- 2 to 3) {
      // NO broadcasts: the rank table is O(nodes), which a web-scale graph
      // cannot broadcast. The relaxation is a shuffled hash join on the
      // node key (build side = ranks, the smaller table), so each iteration
      // costs one join plus the mandatory dst-aggregation shuffle.
      ranks = degEdges.join(ranks.hint("shuffle_hash"), col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(expr(s"$base + (17 * sum(r div deg)) div 20").as("r"))
        .select(col("dst").as("node"), col("r"))
    }
    ranks
      .withColumn("node_type",
        when(col("node") % 2 === 0, lit("part")).otherwise(lit("supplier")))
      .select(col("node").as("node_id"), col("node_type"), col("r").as("rank_fp"))
      .orderBy(col("rank_fp").desc, col("node_id"))
      .limit(50)
  }

  val q143Oracle: String =
    """WITH pairs AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
      |e AS (SELECT p*2 AS src, s*2+1 AS dst FROM pairs
      |      UNION ALL SELECT s*2+1, p*2 FROM pairs),
      |d AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
      |n AS (SELECT count(*) AS nn FROM d),
      |r0 AS (SELECT src AS node, 1000000000000 // nn AS r FROM d, n),
      |r1 AS (SELECT e.dst AS node,
      |         (3*(1000000000000 // nn)) // 20 + (17 * sum(r.r // d.deg)) // 20 AS r
      |       FROM e JOIN r0 r ON e.src = r.node JOIN d ON e.src = d.src, n
      |       GROUP BY e.dst, nn),
      |r2 AS (SELECT e.dst AS node,
      |         (3*(1000000000000 // nn)) // 20 + (17 * sum(r.r // d.deg)) // 20 AS r
      |       FROM e JOIN r1 r ON e.src = r.node JOIN d ON e.src = d.src, n
      |       GROUP BY e.dst, nn),
      |r3 AS (SELECT e.dst AS node,
      |         (3*(1000000000000 // nn)) // 20 + (17 * sum(r.r // d.deg)) // 20 AS r
      |       FROM e JOIN r2 r ON e.src = r.node JOIN d ON e.src = d.src, n
      |       GROUP BY e.dst, nn)
      |SELECT node AS node_id,
      |  CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_type,
      |  CAST(r AS BIGINT) AS rank_fp
      |FROM r3
      |ORDER BY rank_fp DESC, node_id
      |LIMIT 50""".stripMargin

  // ---------------------------------------------------------------- q161

  /** Fixed-depth BFS: exact hop distances from a seed node over the same
    * bipartite part↔supplier graph, 3 rounds of min-distance propagation
    * (each round: frontier ⋈ edges, then min per node — the min-plus
    * relaxation step; all-integer, so bit-reproducible). The reachability
    * histogram (nodes per distance) is the output. Distinct from q143
    * (value diffusion) and q77/q136 (component labels): this is the
    * shortest-path semiring. Same scale shape as q143: the reached set
    * converges toward ALL nodes by round 3, so broadcasting it would blow
    * any driver/broadcast limit at scale — instead the edge list is
    * reliably checkpointed once and each round's relaxation is a shuffled
    * hash join building on the frontier side, with the frontier
    * checkpointed per round to keep the lineage O(1) deep under any
    * memory pressure (see [[ensureCheckpointDir]]).
    */
  def q161BfsHops(spark: SparkSession, dir: String): DataFrame = {
    ensureCheckpointDir(spark)
    // pairs checkpointed first: the edge union's two branches then read the
    // distinct ONCE from durable files instead of computing it twice
    val pairs = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("s")).distinct()
      .checkpoint()
    val edges = pairs.select((col("p") * 2).as("src"), (col("s") * 2 + 1).as("dst"))
      .union(pairs.select((col("s") * 2 + 1).as("src"), (col("p") * 2).as("dst")))
      .repartition(col("src"))
      .checkpoint()
    // seed: supplier 1 (node id 3) — present at every corpus scale.
    // checkpoint cuts the literal lineage: without it Catalyst
    // constant-folds node=3 into the join condition, the equi-key
    // disappears, and the relaxation degenerates to a broadcast
    // nested-loop join (re-planned from scratch each round).
    var dist = edges.sparkSession.range(1)
      .select(lit(3L).as("node"), lit(0L).as("dist")).checkpoint()
    for (round <- 1 to 3) {
      // shuffle-hash build on the frontier, no broadcast: dist is
      // O(reached nodes) — tiny in round 1, the whole graph by round 3.
      // The shuffle join is the shape that survives 100×; round-1 overhead
      // (shuffling one row) is noise next to the edge scan either way.
      val expanded = edges.join(dist.hint("shuffle_hash"), col("src") === col("node"))
        .select(col("dst").as("node"), (col("dist") + 1).as("dist"))
      // Checkpoint between rounds: dist appears TWICE per round (union +
      // relaxation join), so an un-materialized lineage doubles every
      // iteration — 2^rounds recomputation — and a merely-persisted one
      // re-runs the whole chain on eviction. The eager reliable checkpoint
      // bounds every round at one durable read. The LAST round stays lazy:
      // both of its dist reads hit round 2's checkpoint, so laziness costs
      // nothing and the returned plan keeps the relaxation join visible for
      // plan-shape assertions.
      val next = dist.union(expanded).groupBy(col("node")).agg(min(col("dist")).as("dist"))
      dist = if (round < 3) next.checkpoint() else next
    }
    dist.groupBy(col("dist")).agg(count(lit(1)).as("n"),
        min(col("node")).as("min_node"), max(col("node")).as("max_node"))
      .orderBy(col("dist"))
  }

  val q161Oracle: String =
    """WITH pairs AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
      |e AS (SELECT p*2 AS src, s*2+1 AS dst FROM pairs
      |      UNION ALL SELECT s*2+1, p*2 FROM pairs),
      |d0 AS (SELECT CAST(3 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist),
      |d1 AS (SELECT node, min(dist) AS dist FROM (
      |  SELECT * FROM d0 UNION ALL
      |  SELECT e.dst, d0.dist + 1 FROM e JOIN d0 ON e.src = d0.node) GROUP BY node),
      |d2 AS (SELECT node, min(dist) AS dist FROM (
      |  SELECT * FROM d1 UNION ALL
      |  SELECT e.dst, d1.dist + 1 FROM e JOIN d1 ON e.src = d1.node) GROUP BY node),
      |d3 AS (SELECT node, min(dist) AS dist FROM (
      |  SELECT * FROM d2 UNION ALL
      |  SELECT e.dst, d2.dist + 1 FROM e JOIN d2 ON e.src = d2.node) GROUP BY node)
      |SELECT dist, count(*) AS n, min(node) AS min_node, max(node) AS max_node
      |FROM d3 GROUP BY dist ORDER BY dist""".stripMargin

  // ---------------------------------------------------------------- q207

  /** Degree assortativity of the co-purchase graph (Newman's r): do
    * well-connected parts co-occur with other well-connected parts? Edges
    * are part pairs sharing an order — the within-basket pair join, bounded
    * by basket size (≤ lines-per-order), never |parts|². Degrees join back
    * onto the directed edge list and r is the Pearson correlation of the
    * endpoint degrees: five exact 64-bit integer sums finished by one
    * sqrt·sqrt division (IEEE-exact both engines). One pair shuffle, one
    * degree aggregation, two broadcast-ish joins — the same shape at any
    * scale.
    */
  def q207Assortativity(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey"))
    val edges = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
      .select(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
      .distinct()
    // Degrees via windows over the SAME edge stream, not a separate
    // aggregate joined back: the basket pair-join is the expensive input
    // and a groupBy+2-joins formulation re-evaluates it three times (once
    // per consumer of `edges`). Window counts keep one physical pair-join
    // feeding two shuffles. The edge list is symmetric, so the partition
    // count over the target endpoint IS that endpoint's out-degree.
    val joined = edges
      .withColumn("dx", count(lit(1)).over(Window.partitionBy(col("pa"))).cast("long"))
      .withColumn("dy", count(lit(1)).over(Window.partitionBy(col("pb"))).cast("long"))
    joined.agg(
        count(lit(1)).cast("long").as("m"),
        sum(col("dx")).as("sx"),
        sum(col("dy")).as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
      .select(col("m"), col("sx"), col("sxy"),
        ((col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((col("m") * col("sxx") - col("sx") * col("sx")).cast("double")) *
            sqrt((col("m") * col("syy") - col("sy") * col("sy")).cast("double")))).as("r"))
  }

  val q207Oracle: String =
    """WITH edges AS (
      |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
      |deg AS (SELECT pa AS p, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY 1),
      |j AS (SELECT da.d AS dx, db.d AS dy
      |      FROM edges JOIN deg da ON pa = da.p JOIN deg db ON pb = db.p),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS m,
      |             CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
      |             CAST(sum(dx*dy) AS BIGINT) AS sxy,
      |             CAST(sum(dx*dx) AS BIGINT) AS sxx,
      |             CAST(sum(dy*dy) AS BIGINT) AS syy
      |      FROM j)
      |SELECT m, sx, sxy,
      |  CAST(m*sxy - sx*sy AS DOUBLE) /
      |    (sqrt(CAST(m*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(m*syy - sy*sy AS DOUBLE))) AS r
      |FROM s""".stripMargin

  // ---------------------------------------------------------------- q270

  /** Label-propagation community detection (synchronous, 3 rounds) over the
    * part↔supplier graph — the modularity-free community algorithm corpus
    * pipelines use to group related entities (co-purchase clusters, domain
    * communities). Init: every node labels itself; each round, a node
    * adopts the MOST FREQUENT label among its neighbors (ties → smallest
    * label) — mode-based, so unlike min-propagation it does NOT collapse to
    * connected components (q77/q136 cover that) and dense regions keep
    * distinct labels.
    *
    * Determinism: synchronous updates, integer labels, and a total
    * (count DESC, label) order in the per-node argmax — bit-free arithmetic
    * throughout. Scale shape: identical to PageRank's — each round is one
    * shuffled hash join of the O(nodes) label table against the cached
    * edge list (hinted: a label table can no more broadcast at web scale
    * than a rank table) plus the mode aggregation; fixed 3 rounds keep the
    * lineage shallow.
    */
  def q270LabelPropagation(spark: SparkSession, dir: String): DataFrame = {
    ensureCheckpointDir(spark)
    // pairs checkpointed (not cached): the edge union's two branches read
    // the distinct once from durable files — no cache-population race
    val pairs = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("s")).distinct()
      .checkpoint()
    // Checkpoint the edge list ALREADY HASH-PARTITIONED on the per-round
    // join key: checkpoint preserves the physical plan's partitioning, so
    // every round's shuffle-hash join re-exchanges only the O(nodes)
    // label table — the O(edges) side shuffles ONCE here instead of once
    // per round. This is the pay-the-shuffle-once discipline (q69's
    // bucketing) applied to an iteration's durable working set; reliable
    // checkpoint (vs the previous persist) means eviction can never
    // silently re-run the parquet scan + distinct + shuffle per round
    // (the r8 driver-bench divergence).
    val edges = pairs.select((col("p") * 2).as("u"), (col("s") * 2 + 1).as("v"))
      .union(pairs.select((col("s") * 2 + 1).as("u"), (col("p") * 2).as("v")))
      .repartition(col("v"))
      .checkpoint()
    var labels = edges.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (round <- 1 to 3) {
      val next = edges
        .join(labels.hint("shuffle_hash").withColumnRenamed("node", "v"), Seq("v"))
        .groupBy(col("u").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
        // mode-of-neighbors as a SECOND hash aggregation (max_by over the
        // (count, -label) order) instead of a row_number window: the window
        // form needs an exchange PLUS a per-partition sort; max_by partial-
        // aggregates map-side and never sorts. Tie semantics identical:
        // highest count, then smallest label.
        .groupBy(col("node"))
        .agg(max_by(col("label"),
          struct(col("c"), (-col("label")).as("nl"))).as("label"))
      // per-round reliable checkpoint: one durable copy of the O(nodes)
      // label state, lineage cut — O(1)-deep plans, zero recompute under
      // eviction. The LAST round stays lazy so the returned plan keeps the
      // relaxation join visible for plan-shape assertions (its two label
      // reads hit round 2's checkpoint files).
      labels = if (round < 3) next.checkpoint() else next
    }
    labels.groupBy(col("label")).agg(count(lit(1)).as("n_members"))
      .orderBy(col("n_members").desc, col("label"))
      .limit(20)
  }

  val q270Oracle: String = {
    def round(k: Int): String =
      s"""r$k AS (SELECT e.u AS node, l.label, count(*) AS c
         |        FROM edges e JOIN l${k - 1} l ON l.node = e.v GROUP BY 1, 2),
         |l$k AS (SELECT node, label FROM (
         |          SELECT node, label,
         |            row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
         |          FROM r$k) WHERE rn = 1)""".stripMargin
    s"""WITH pairs AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
       |edges AS (SELECT p*2 AS u, s*2+1 AS v FROM pairs
       |          UNION ALL SELECT s*2+1, p*2 FROM pairs),
       |l0 AS (SELECT DISTINCT u AS node, u AS label FROM edges),
       |${(1 to 3).map(round).mkString(",\n")}
       |SELECT label, count(*) AS n_members FROM l3
       |GROUP BY label ORDER BY n_members DESC, label LIMIT 20""".stripMargin
  }

  // ---------------------------------------------------------------- q276

  /** Minimum degree to survive each k-core peel. */
  private val CoreK = 3

  /** k-core decomposition (3 peeling rounds at k = [[CoreK]]) over the
    * part↔supplier graph — the density-skeleton extraction that
    * complements the reachability (BFS), centrality (PageRank), community
    * (LPA), and clustering (assortativity/triangles) faces: each round
    * removes every node whose CURRENT degree is below k, which can drop
    * neighbors below k in turn — the survivors of round r are the
    * (partial) k-core. Emits (round, n_nodes, n_edges) — the peeling
    * trajectory, whose fixpoint is the core.
    *
    * Scale shape: each round is one degree aggregation (shuffle on the
    * node key) + two semi-joins filtering the edge list to surviving
    * endpoints — all equi-joins on node ids, nothing broadcast-sized
    * grows with the graph (the survivor set is O(nodes); hinted
    * shuffle-hash like the other graph iterations).
    *
    * Durability (the r8 `weak`, closed here): each round's edge state and
    * the survivor set are RELIABLY checkpointed — lineage is cut at every
    * round, so block eviction can never re-run the peel chain from the
    * parquet scan (the compounding-recompute mode behind the r8 driver
    * bench's 5× blowup) — and `keep` is derived ONCE per round into its own
    * durable frame instead of twice (u- and v-side semi-joins each
    * re-aggregating degrees).
    */
  def q276KCore(spark: SparkSession, dir: String): DataFrame = {
    ensureCheckpointDir(spark)
    // pairs checkpointed first (the q143/q270 build discipline): the edge
    // union reads the distinct once from durable files
    val pairs = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("s")).distinct()
      .checkpoint()
    // Edge state is checkpointed HASH-PARTITIONED on u every round (the
    // q270 lesson — checkpoint preserves the physical partitioning, so the
    // degree aggregation and the u-side survivor semi-join read it
    // partition-aligned with no exchange): each round re-shuffles only the
    // v-side filter and its own repartition, not three full edge exchanges.
    var edges = pairs.select((col("p") * 2).as("u"), (col("s") * 2 + 1).as("v"))
      .union(pairs.select((col("s") * 2 + 1).as("u"), (col("p") * 2).as("v")))
      .repartition(col("u"))
      .checkpoint()
    val trajectory = Seq.newBuilder[(Int, Long, Long)]
    // r14 opt (guide §1.2 — don't compute things twice): the per-round
    // DEGREE aggregation already holds both trajectory stats — n_nodes is
    // its group count (every node has out-edges) and n_edges is
    // sum(deg) / 2 — so the old separate stats pass (a second full edge
    // scan + countDistinct shuffle per round, 7 edge passes total) folds
    // into the degree frame: 4 edge passes, and the stats read is an
    // O(nodes) aggregate over the durable degree checkpoint.
    def degrees(e: DataFrame): DataFrame =
      e.groupBy(col("u")).agg(count(lit(1)).as("deg")).checkpoint()
    def stats(degs: DataFrame): (Long, Long) = {
      val r = degs.agg(count(lit(1)), sum(col("deg"))).head
      (r.getLong(0), r.getLong(1) / 2)
    }
    var degs = degrees(edges)
    val s0 = stats(degs)
    trajectory += ((0, s0._1, s0._2))
    for (round <- 1 to 3) {
      // survivor set read straight off the round's durable degree frame —
      // both endpoint semi-joins read these checkpoint files, so the degree
      // aggregation runs exactly once per round under any memory pressure
      val keep = degs.where(col("deg") >= CoreK).select(col("u").as("node"))
      // v-side filter FIRST, u-side LAST: the final shuffle-hash semi-join
      // hash-partitions its output on u, so the checkpointed round state is
      // already u-clustered for the next round's degree agg and u-filter —
      // no explicit repartition exchange needed (one fewer shuffle/round).
      edges = edges
        .join(keep.hint("shuffle_hash").withColumnRenamed("node", "v"), Seq("v"), "left_semi")
        .join(keep.hint("shuffle_hash").withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .select(col("u"), col("v"))
        .checkpoint() // lineage cut: round state lives on disk, O(1) deep
      degs = degrees(edges)
      val s = stats(degs)
      trajectory += ((round, s._1, s._2))
    }
    import spark.implicits._
    trajectory.result().toDF("round", "n_nodes", "n_edges").orderBy(col("round"))
  }

  val q276Oracle: String = {
    def round(k: Int): String = {
      val prev = s"e${k - 1}"
      s"""keep$k AS (SELECT u AS node FROM $prev GROUP BY u HAVING count(*) >= $CoreK),
         |e$k AS (SELECT u, v FROM $prev
         |        WHERE u IN (SELECT node FROM keep$k)
         |          AND v IN (SELECT node FROM keep$k))""".stripMargin
    }
    s"""WITH pairs AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
       |e0 AS (SELECT p*2 AS u, s*2+1 AS v FROM pairs
       |       UNION ALL SELECT s*2+1, p*2 FROM pairs),
       |${(1 to 3).map(round).mkString(",\n")}
       |SELECT CAST(0 AS INT) AS round,
       |  (SELECT count(DISTINCT u) FROM e0) AS n_nodes,
       |  (SELECT count(*) FROM e0) // 2 AS n_edges
       |UNION ALL SELECT 1, (SELECT count(DISTINCT u) FROM e1), (SELECT count(*) FROM e1) // 2
       |UNION ALL SELECT 2, (SELECT count(DISTINCT u) FROM e2), (SELECT count(*) FROM e2) // 2
       |UNION ALL SELECT 3, (SELECT count(DISTINCT u) FROM e3), (SELECT count(*) FROM e3) // 2
       |ORDER BY round""".stripMargin
  }

  def all: Seq[GraftQuery] = Seq(
    GraftQuery.sql("q276_kcore_peel", q276KCore, q276Oracle),
    GraftQuery.sql("q143_fixed_point_pagerank", q143FixedPointPagerank, q143Oracle),
    GraftQuery.sql("q161_bfs_hops", q161BfsHops, q161Oracle),
    GraftQuery.sql("q207_assortativity", q207Assortativity, q207Oracle),
    GraftQuery.sql("q270_label_propagation", q270LabelPropagation, q270Oracle)
  )
}
