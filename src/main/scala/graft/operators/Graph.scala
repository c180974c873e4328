package graft.operators

import graft.{Caches, Par}
import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** Distributed graph connectivity for dedup clustering.
  *
  * Near-duplicate detection emits PAIRS ([[Dedup.minHashLsh]],
  * [[Dedup.simHashNearPairs]], …), but a training-data pipeline needs
  * CLUSTERS — "keep one document per group of transitively-connected
  * near-dups" (A≈B, B≈C ⇒ drop two of {A,B,C}, even when A and C never
  * collide directly). The reference engine has no graph tier at all;
  * this is declared surplus capability, built the Spark way.
  *
  * [[connectedComponents]] is alternating large-star/small-star
  * contraction (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC'14): each round rewires every vertex's strictly-larger
  * neighbors to its neighborhood minimum (large-star), then rewires
  * every vertex's smaller neighbors — and itself — to that minimum
  * (small-star). At fixpoint the edge set is a forest of stars, each
  * rooted at its component's minimum member id — a deterministic,
  * self-describing cluster id. Each half-round is ONE equi-join +
  * aggregate (shuffle on vertex id), and convergence takes
  * **O(log n) rounds regardless of graph diameter** — the property
  * plain min-label propagation (O(diameter) rounds) lacks, so a
  * pathological chain graph converges in a dozen rounds instead of
  * hitting `maxIter`. Per-round `localCheckpoint` truncates lineage so
  * the plan doesn't grow with iterations (the classic iterative-Spark
  * pitfall).
  */
object Graph {

  /** Component label (= min member id) for every vertex appearing in
    * `edges`. Output: `id`, `comp`. Edges are treated as undirected;
    * self-loops and duplicate edges are fine. Ids must be castable to
    * long and non-null.
    */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50): DataFrame = {
    val init = edges
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
      .distinct()

    // large-star: center u over BOTH directions of each edge; every
    // strictly larger neighbor re-attaches to m = min(N(u) ∪ {u})
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val m = sym.groupBy("src")
        .agg(least(min(col("dst")), col("src")).as("m"))
      sym.join(m, "src")
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct()
    }
    // small-star: orient each edge large→small, center the larger
    // endpoint; its smaller neighbors and itself re-attach to the min
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(
        greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      val m = oriented.groupBy("src").agg(min(col("dst")).as("m"))
      oriented.join(m, "src")
        .select(explode(array(
          struct(col("dst").as("src"), col("m").as("dst")),
          struct(col("src"), col("m").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct()
    }

    // ONE job per round: a LAZY localCheckpoint is materialized by the
    // fingerprint aggregate itself (count + order-independent XOR of
    // per-edge hashes), so the round's shuffle work runs exactly once
    // and the convergence signal rides it for free. The fingerprint is
    // a FAST-PATH test only — when it matches, the exact left-anti
    // check confirms set equality (both sides are distinct sets, so
    // equal count + next⊆cur ⇔ equal), which normally runs on just the
    // final round instead of every round (the r9 bench's ~4 jobs/round
    // made q64 the single most expensive metric).
    def fingerprint(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L))).head()
      // scaling telemetry: Σ per-round edge-set sizes = the total
      // volume the CC rounds shuffle — the "candidate count" of this
      // operator (free: read off the fingerprint the loop already has)
      Telemetry.add("cc_edges", r.getLong(0))
      (r.getLong(0), r.getLong(1))
    }
    var cur = init.localCheckpoint(false)
    var curFp = fingerprint(cur)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(cur)).localCheckpoint(false)
      val nextFp = fingerprint(next)
      // XOR-hash collisions (~2⁻⁶⁴/round) can only cost one extra
      // confirm job, never a wrong answer — equality is re-proven
      // exactly before the loop may exit
      converged = nextFp == curFp &&
        next.join(cur, Seq("src", "dst"), "left_anti").isEmpty
      // the fingerprint materialized `next` and the convergence check
      // no longer needs the PREVIOUS round's checkpointed blocks —
      // drop them now, or every round's edge set stays in executor
      // storage for the life of the session
      Caches.unpersistCheckpoint(cur)
      cur = next
      curFp = nextFp
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds; " +
          "raise maxIter")
    // fixpoint edges are (member, root) stars; roots label themselves
    cur.select(col("src").as("id"), col("dst").as("comp"))
      .union(cur.select(col("dst").as("id"), col("dst").as("comp")))
      .distinct()
  }

  /** Incremental connected-components maintenance: fold a batch of NEW
    * edges into an existing `(id, comp)` assignment without re-running
    * CC over the full graph — the cluster-maintenance step an
    * incremental near-dedup ingest ([[Dedup.ingestNovelNear]]) needs
    * once clusters are materialized. Only components TOUCHED by a new
    * edge are re-solved: each prior component is already a star
    * (member → min-id root), so re-solving = CC over the touched
    * stars ∪ the new edges; every untouched assignment row passes
    * through verbatim. Labels stay "min member id", so the output is
    * IDENTICAL to a from-scratch CC over old ∪ new edges — but the
    * work is `O(|touched components| + |new edges|)`, not corpus-sized:
    * at 100 TB an ingest batch touches thousands of clusters, not the
    * billions that exist.
    *
    * `assign` rows are (vertex, component-root); vertices unseen in
    * `assign` but present in `newEdges` are new arrivals and get
    * labeled by the re-solve. One distinct-endpoint semi-join finds
    * the touched set; the CC rounds run on the touched subgraph only.
    */
  def incrementalComponents(assign: DataFrame, idCol: String,
      compCol: String, newEdges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50): DataFrame = {
    val a = assign.select(col(idCol).cast("long").as("id"),
      col(compCol).cast("long").as("comp"))
    val e = newEdges
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
      .distinct()
    val endpoints = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val touched = a.join(endpoints, Seq("id"), "left_semi")
      .select("comp").distinct()
    val touchedStars = a.join(touched, Seq("comp"), "left_semi")
    val solved = connectedComponents(
      touchedStars.select(col("id").as("a"), col("comp").as("b"))
        .union(e.select(col("src").as("a"), col("dst").as("b"))),
      "a", "b", maxIter)
    a.join(touched, Seq("comp"), "left_anti").select("id", "comp")
      .union(solved.select("id", "comp"))
  }

  /** PageRank over a directed edge list — the corpus-quality ranking
    * signal (host/page ranks over a link graph feed crawl filtering
    * the way Common Crawl pipelines use them). Fixed `iters` rounds of
    * the simplified update `r' = (1−d) + d·Σ_in r/outdeg` starting
    * from `r = 1` (dangling mass is dropped, parallel edges count —
    * the conventions stated so an oracle can replay them exactly).
    * Output: `id, rank` (rounded to `roundTo` decimals so fp
    * accumulation order can't flip a comparison).
    *
    * Each round is one shuffle: edges pre-joined with out-degrees once
    * (persisted), contributions aggregate map-side-combinably on dst,
    * then a left join back to the vertex set keeps rank-sinks. Lineage
    * is truncated per round with `localCheckpoint` — the iterative-
    * Spark pitfall [[connectedComponents]] already guards against.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, damping: Double = 0.85, roundTo: Int = 6): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    val e = edges.select(
      col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    // loop invariants as EAGER localCheckpoints, not persists: a
    // persisted frame keeps its full logical plan, so every round
    // would re-analyze + re-optimize the whole edge derivation
    // (measured as a dominant per-round cost across the iterative
    // operators); the checkpoint truncates each to a LogicalRDD leaf.
    // withDeg is pre-partitioned on the round-join key, so the
    // edge-sized side crosses an exchange ONCE for all rounds — only
    // the node-sized rank vector moves per round.
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint(true)
    val withDeg = e
      .join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src")
      .repartition(col("src"))
      .localCheckpoint(true)
    var ranks = nodes.withColumn("rank", lit(1.0)).localCheckpoint(true)
    for (_ <- 1 to iters) {
      val contribs = withDeg
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .select(col("dst"), (col("rank") / col("deg")).as("c"))
        .groupBy("dst").agg(sum("c").as("s"))
      val prev = ranks
      ranks = nodes
        .join(contribs, nodes("id") === contribs("dst"), "left")
        .select(col("id"),
          (lit(1 - damping) + lit(damping) * coalesce(col("s"), lit(0.0)))
            .as("rank"))
        .localCheckpoint(true)
      // the eager checkpoint above just materialized the new ranks —
      // the superseded round's blocks are dead weight from here on
      Caches.unpersistCheckpoint(prev)
    }
    Caches.unpersistCheckpoint(nodes)
    Caches.unpersistCheckpoint(withDeg)
    ranks.select(col("id"), round(col("rank"), roundTo).as("rank"))
  }

  /** Per-node triangle counts + local clustering coefficient — the
    * cohesion statistic that separates a tight duplicate clique from a
    * hub-and-spoke template family in a near-dup graph (a clique's
    * members all close their wedges; a star's never do). Returns one
    * row per vertex: `(id, degree, triangles, clustering)` with
    * clustering = 2·T / (deg·(deg−1)), 0 when deg < 2.
    *
    * Scale shape: the classic degree-ordered node-iterator — edges
    * canonicalize undirected, then orient from the (degree, id)-SMALLER
    * endpoint so every wedge is enumerated exactly once at its
    * lowest-degree vertex; the wedge self-join's fan-out per vertex is
    * its OUT-degree, which the orientation bounds by O(√|E|) on any
    * graph (the arboricity argument behind compact-forward counting) —
    * a hub with 10⁶ neighbors contributes no wedges at itself, they
    * all hang off its low-degree peers. Wedges close against the
    * canonical edge set by an equi-join on the (min, max) pair key.
    * Three shuffles total: degree agg, wedge join, closing join.
    */
  def triangleCounts(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val und = edges.select(
        least(col(aCol).cast("long"), col(bCol).cast("long")).as("u"),
        greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("v"))
      .where(col("u").isNotNull && col("u") =!= col("v"))
      .distinct()
      // persisted into the caller's scope: three plan branches read the
      // edge set, which may itself be an expensive LSH derivation
      .transform(Caches.persist(_))
    val deg = und.select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    val withDeg = und
      .join(deg.select(col("id").as("u"), col("degree").as("__du")), "u")
      .join(deg.select(col("id").as("v"), col("degree").as("__dv")), "v")
    val oriented = withDeg.select(
      when(struct(col("__du"), col("u")) < struct(col("__dv"), col("v")),
        col("u")).otherwise(col("v")).as("src"),
      when(struct(col("__du"), col("u")) < struct(col("__dv"), col("v")),
        col("v")).otherwise(col("u")).as("dst"))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
    val triangles = wedges.join(und,
      col("u") === least(col("b"), col("c")) &&
        col("v") === greatest(col("b"), col("c")))
    val perNode = triangles
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
    val out = deg.join(perNode, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("clustering",
        when(col("degree") >= 2,
          round(col("triangles") * 2d / (col("degree") * (col("degree") - 1)), 4))
          .otherwise(lit(0d)))
    out
  }

  /** Components over an explicit vertex set: vertices absent from the
    * edge list come back as singletons (`comp = id`). `vertices` needs
    * one id column named `idCol`.
    */
  def componentsWithSingletons(vertices: DataFrame, idCol: String,
      edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50): DataFrame = {
    val comps = connectedComponents(edges, aCol, bCol, maxIter)
    vertices.select(col(idCol).cast("long").as("id")).distinct()
      .join(comps, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** HITS hub/authority scores (Kleinberg 1999) over a directed edge
    * list — the link-analysis dual of [[pageRank]]: a good HUB points
    * at good authorities, a good AUTHORITY is pointed at by good hubs.
    * In a citation/reference corpus the two surface different
    * documents than PageRank's single score. Fixed `iters` mutual
    * updates with L1 normalization after each half-step (the classic
    * formulation normalizes too; L1 keeps the arithmetic plain sums,
    * replayable in SQL). Returns `(id, authority, hub)` rounded.
    *
    * Scale shape: mirrors [[pageRank]] — per round, each half-step is
    * one equi-join (edges × current scores) + one combinable sum per
    * node + a 1-row total broadcast for the normalization; lineage is
    * cut per round with localCheckpoint. Edge set and node set are
    * persisted once across rounds.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, roundTo: Int = 6): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    // eager checkpoints (not persists) for the loop invariants — see
    // pageRank: truncated lineage keeps per-round planning O(1); the
    // edge set is pre-partitioned on the auth-step join key so one of
    // the two per-round joins never re-shuffles the edge-sized side
    val e = edges.select(
        col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .repartition(col("src"))
      .localCheckpoint(true)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint(true)
    def l1Normalize(scores: DataFrame, c: String): DataFrame = {
      val tot = broadcast(scores.agg(sum(col(c)).as("__tot")))
      scores.crossJoin(tot)
        .select(col("id"),
          when(col("__tot") > 0, col(c) / col("__tot")).otherwise(lit(0d))
            .as(c))
    }
    var hubs = nodes.withColumn("hub", lit(1.0)).localCheckpoint(true)
    var auths = nodes.withColumn("auth", lit(1.0)).localCheckpoint(true)
    for (_ <- 1 to iters) {
      val prevAuths = auths
      val prevHubs = hubs
      val auth1 = nodes.join(
          e.join(hubs.withColumnRenamed("id", "src"), "src")
            .groupBy(col("dst").as("id")).agg(sum("hub").as("auth")),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("auth"), lit(0d)).as("auth"))
      auths = l1Normalize(auth1, "auth").localCheckpoint(true)
      val hub1 = nodes.join(
          e.join(auths.withColumnRenamed("id", "dst"), "dst")
            .groupBy(col("src").as("id")).agg(sum("auth").as("hub")),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("hub"), lit(0d)).as("hub"))
      hubs = l1Normalize(hub1, "hub").localCheckpoint(true)
      // both replacement rounds are materialized (eager checkpoints);
      // release the superseded rounds' blocks
      Caches.unpersistCheckpoint(prevAuths)
      Caches.unpersistCheckpoint(prevHubs)
    }
    val out = auths.join(hubs, Seq("id"))
      .select(col("id"), round(col("auth"), roundTo).as("authority"),
        round(col("hub"), roundTo).as("hub"))
    Caches.unpersistCheckpoint(e); Caches.unpersistCheckpoint(nodes)
    out
  }

  /** Degree assortativity of an undirected graph (Newman): the
    * Pearson correlation of endpoint degrees over all directed edge
    * instances. Positive = hubs link to hubs (a syndication ring);
    * negative = hubs link to leaves (hub-and-spoke template reuse) —
    * the one-number structure summary of a near-dup graph. All five
    * correlation sums are INTEGERS (degrees × degrees over edges), so
    * both engines reach the final expression bit-identically. Emits
    * one row: `(m_edges, assortativity)` (m = undirected edge count;
    * NULL assortativity when degenerate, e.g. a regular graph).
    *
    * Scale shape: one degree aggregate, two broadcast-friendly joins
    * attaching endpoint degrees to the edge list, one 5-sum fold.
    */
  def assortativity(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val sym0 = edges
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
    val sym = sym0
      .union(sym0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val deg = sym.groupBy("src").agg(count(lit(1)).as("__d"))
    val pairs = sym
      .join(deg.select(col("src"), col("__d").as("__da")), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("__d").as("__db")), Seq("dst"))
    val a = pairs.agg(
      count(lit(1)).as("__m2"),
      sum("__da").as("__sx"), sum("__db").as("__sy"),
      sum(col("__da") * col("__db")).as("__sxy"),
      sum(col("__da") * col("__da")).as("__sxx"),
      sum(col("__db") * col("__db")).as("__syy"))
    val n = col("__m2").cast("double")
    val cov = n * col("__sxy") - col("__sx").cast("double") * col("__sy")
    val vx = n * col("__sxx") - col("__sx").cast("double") * col("__sx")
    val vy = n * col("__syy") - col("__sy").cast("double") * col("__sy")
    a.select((col("__m2") / 2).cast("long").as("m_edges"),
      round(when(vx > 0 && vy > 0, cov / sqrt(vx * vy))
        .otherwise(lit(null).cast("double")), 6).as("assortativity"))
  }

  /** k-core decomposition (fixed k): iteratively peel vertices of
    * degree < k until the survivor set is stable — the densest-region
    * extractor that separates a genuinely interlinked duplicate/
    * syndication cluster from chains of borderline pairs (every
    * member of a k-core has ≥ k verified neighbors INSIDE the core).
    * Returns the surviving vertices with their within-core degree:
    * `(id, degree)`; an empty result means no k-core exists.
    *
    * Iteration is degree-filter → edge-filter per round, each one
    * shuffle, with `localCheckpoint` truncating lineage (the
    * [[connectedComponents]] discipline). Convergence is REQUIRED
    * within `maxRounds` — the visible result is then identical to the
    * `maxRounds`-unrolled computation (extra rounds past the fixpoint
    * are no-ops), which is exactly what the oracle replays.
    *
    * Scale shape: peeling terminates in ≤ O(peeling depth) rounds
    * (tiny for near-dup graphs: most vertices fall in round 1); each
    * round's shuffles carry the shrinking survivor set only.
    */
  def kCore(edges: DataFrame, aCol: String, bCol: String,
      k: Int, maxRounds: Int = 8): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val sym0 = edges
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
    var sym = sym0
      .union(sym0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    var prevEdges = -1L
    var nEdges = sym.count()
    var round = 0
    while (nEdges != prevEdges && round < maxRounds) {
      val keep = sym.groupBy("src").agg(count(lit(1)).as("__d"))
        .where(col("__d") >= k)
        .select(col("src").as("__keep"))
      val prevSym = sym
      sym = sym
        .join(keep.withColumnRenamed("__keep", "src"), Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("__keep", "dst"), Seq("dst"), "left_semi")
        .localCheckpoint(true)
      Caches.unpersistCheckpoint(prevSym)
      prevEdges = nEdges
      nEdges = sym.count()
      round += 1
    }
    if (nEdges != prevEdges)
      throw new IllegalStateException(
        s"kCore did not reach its fixpoint in $maxRounds rounds; " +
          "raise maxRounds (the oracle unrolls the same bound)")
    sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))
  }

  /** Newman modularity of a community assignment — the "is this
    * clustering better than chance" score for [[connectedComponents]] /
    * [[labelPropagation]] output: with m undirected edges, within-
    * community edge counts l_c and community degree sums d_c,
    *   Q·4m² = Σ_c (4m·l_c − d_c²)
    * — a pure int64 sum, divided once at the end. Emits one row:
    * `(m_edges, n_communities, modularity)`.
    *
    * Scale shape: two endpoint→community joins on the node-keyed
    * assignment, two combinable aggregates. Int64-safe while
    * 4m·l_c < 9·10¹⁸ (m < ~1.5·10⁹ edges; swap to DECIMAL beyond).
    */
  def modularity(edges: DataFrame, aCol: String, bCol: String,
      comms: DataFrame, idCol: String, commCol: String): DataFrame = {
    val und = edges.select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .where(col("u") =!= col("v")).distinct()
    val asg = comms.select(col(idCol).as("__id"), col(commCol).as("__c"))
    val tagged = Caches.persist(und
      .join(asg.select(col("__id").as("u"), col("__c").as("cu")), Seq("u"))
      .join(asg.select(col("__id").as("v"), col("__c").as("cv")), Seq("v")))
    val m = tagged.agg(count(lit(1)).as("__m"))
    val lc = tagged.where(col("cu") === col("cv"))
      .groupBy(col("cu").as("c")).agg(count(lit(1)).as("__l"))
    val dc = tagged
      .select(explode(array(col("cu"), col("cv"))).as("c"))
      .groupBy("c").agg(count(lit(1)).as("__d"))
    dc.join(lc, Seq("c"), "left")
      .select(col("c"), coalesce(col("__l"), lit(0L)).as("__l"), col("__d"))
      .crossJoin(broadcast(m))
      .agg(first(col("__m")).as("m_edges"),
        count(lit(1)).as("n_communities"),
        sum(lit(4L) * col("__m") * col("__l") - col("__d") * col("__d"))
          .as("__num"))
      .select(col("m_edges"), col("n_communities"),
        round(col("__num").cast("double")
          / (lit(4d) * col("m_edges") * col("m_edges")), 6)
          .as("modularity"))
  }

  /** Synchronous min-tie label propagation — community detection for
    * graphs where [[connectedComponents]] is too coarse (one giant
    * component) : every round, each node adopts its neighbors' most
    * frequent label (ties to the SMALLEST label — fully deterministic,
    * so the oracle replays the identical trajectory as unrolled CTEs);
    * isolated nodes keep their own id. Exactly `rounds` synchronous
    * rounds from labels = ids. Emits `(id, label)`.
    *
    * Scale shape per round: one labels⨝edges equi-join, one
    * (node, label) count, one per-node argmax (combinable min on the
    * (-count, label) struct) — and a localCheckpoint to cut lineage.
    */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
      rounds: Int): DataFrame = {
    val sym0 = edges.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
    val sym = sym0
      .union(sym0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(true)
    val nodes = sym.select(col("src").as("id")).distinct()
      .localCheckpoint(true)
    var labels = nodes.select(col("id"), col("id").as("label"))
    for (_ <- 1 to rounds) {
      val freq = sym
        .join(labels.select(col("id").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("__n"))
      val best = freq
        .groupBy(col("src"))
        .agg(min(struct((-col("__n")).as("nn"), col("label").as("l")))
          .as("__b"))
        .select(col("src").as("id"), col("__b.l").as("label"))
      val prevLabels = labels
      labels = nodes.join(best, Seq("id"), "left")
        .select(col("id"), coalesce(col("label"), col("id")).as("label"))
        .localCheckpoint(true)
      // no-op on round 1 (the seed labels are a projection over nodes,
      // not their own checkpoint); drops superseded rounds after that
      Caches.unpersistCheckpoint(prevLabels)
    }
    labels
  }

  /** Breadth-first hop distances from a seed set, bounded by
    * `maxDepth` — the blast-radius query ("everything within k hops of
    * these flagged nodes") behind contamination spread and abuse-ring
    * expansion. Edges are undirected; unreached nodes are absent.
    * Output: `(id, hops)` with hops = the minimum hop count (0 for
    * seeds).
    *
    * Scale shape: classic frontier BFS — per round one frontier⨝edges
    * equi-join plus one anti-join against the visited set, both
    * shuffling only the FRONTIER (bounded by the reachable set), never
    * all-pairs. Each round's result is `localCheckpoint`ed to cut the
    * growing lineage (the [[connectedComponents]] discipline); the
    * driver loop is bounded by `maxDepth` and exits early on an empty
    * frontier.
    */
  def bfsHops(edges: DataFrame, aCol: String, bCol: String,
      seeds: DataFrame, idCol: String, maxDepth: Int): DataFrame = {
    val sym0 = edges.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
    val und = sym0
      .union(sym0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    var visited = seeds.select(col(idCol).cast("long").as("id"))
      .distinct()
      .select(col("id"), lit(0).as("hops"))
      .localCheckpoint(true)
    var frontier = visited.select("id")
    var depth = 0
    while (depth < maxDepth && !frontier.isEmpty) {
      depth += 1
      val prevFrontier = frontier
      val prevVisited = visited
      frontier = frontier
        .join(und, col("id") === col("src"))
        .select(col("dst").as("id")).distinct()
        .join(visited, Seq("id"), "left_anti")
        .localCheckpoint(true)
      visited = visited
        .union(frontier.select(col("id"), lit(depth).as("hops")))
        .localCheckpoint(true)
      Caches.unpersistCheckpoint(prevFrontier)
      Caches.unpersistCheckpoint(prevVisited)
    }
    visited
  }

  /** Link prediction over a bipartite (node, attribute) incidence —
    * the classic common-neighbor / Adamic-Adar ranking ("users who
    * share rare interests are likely the same cohort"): for node pairs
    * sharing ≥ `minShared` attributes,
    *   AA(a,b) = Σ_{shared attr i} 1 / ln(deg(i))
    * where deg(i) = distinct nodes carrying attribute i. Rare shared
    * attributes dominate (1/ln small-deg large); ubiquitous ones
    * contribute nothing and are EXCLUDED by `maxAttrDeg` — which is
    * also the scale guard: pair fan-out is Σ_i deg(i)² bounded by
    * maxAttrDeg per attribute, never quadratic in the node count.
    * Emits the top-`topK` pairs `(node_a, node_b, common, adamic_adar)`
    * ordered by the 6dp-floor-rounded score (ids break ties — rank
    * stability does not hinge on float ulps).
    *
    * Plan shape: dedup incidence → slim degree agg (broadcast back) →
    * within-attribute pair join → one combinable pair aggregate →
    * TakeOrdered(topK). deg ≥ 2 whenever a pair exists, so ln(deg)
    * never divides by zero.
    */
  def adamicAdar(df: DataFrame, nodeCol: String, attrCol: String,
      minShared: Int = 2, maxAttrDeg: Int = 1000, topK: Int = 50): DataFrame = {
    // the incidence may be an expensive derivation (tokenize + explode
    // + distinct); it feeds the degree count AND both join sides, so
    // pay it once (persisted into the caller's scope)
    val inc = Caches.persist(
      df.select(col(nodeCol).as("u"), col(attrCol).as("i")).distinct())
    val deg = inc.groupBy("i").agg(count(lit(1)).as("__deg"))
    // no broadcast hint: attribute cardinality is corpus-bounded in
    // general (AQE broadcasts the degree table when it is small)
    val keyed = Caches.persist(inc.join(deg, Seq("i"))
      .where(col("__deg") >= 2 && col("__deg") <= maxAttrDeg))
    keyed.as("a").join(keyed.as("b"),
        col("a.i") === col("b.i") && col("a.u") < col("b.u"))
      .groupBy(col("a.u").as("node_a"), col("b.u").as("node_b"))
      .agg(count(lit(1)).as("common"),
        sum(lit(1d) / log(col("a.__deg").cast("double"))).as("__aa"))
      .where(col("common") >= minShared)
      .select(col("node_a"), col("node_b"), col("common"),
        (floor(col("__aa") * 1e6 + 0.5) / 1e6).as("adamic_adar"))
      .orderBy(col("adamic_adar").desc, col("node_a"), col("node_b"))
      .limit(topK)
  }

  /** Maximal independent set via Luby's algorithm (Luby, STOC 1985 —
    * THE parallel MIS construction; the shape plink2's `--king-cutoff`
    * unrelated-sample selection and "pick mutually-non-duplicate
    * representatives" both reduce to): each round every undecided
    * vertex draws a deterministic md5 priority (fresh salt per round);
    * a vertex whose priority is STRICTLY below all of its undecided
    * neighbors' joins the set, and its neighbors leave the game. The
    * result is independent (no edge inside) and maximal (every outside
    * vertex has a neighbor inside). Expected O(log n) rounds; the
    * fixpoint is REQUIRED within `maxRounds` (the k-core/ldPrune
    * discipline — an oracle can then replay the identical unrolled
    * trajectory, with exhausted rounds as no-ops). Isolated vertices
    * never appear in the edge list and are trivially independent —
    * callers union them in. Emits `(id)`.
    *
    * Scale shape: per round, the adjacency restricted to undecided
    * vertices (two semi-joins), one per-vertex min aggregation, and
    * a frontier-sized anti-join — every join is equi-keyed on vertex
    * ids, every round `localCheckpoint`ed to cut lineage. All-integer
    * priorities: no float anywhere.
    */
  def maximalIndependentSet(edges: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 12): DataFrame = {
    import graft.functions.md5Long
    val sym0 = edges.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
    val sym = sym0
      .union(sym0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(true)
    val nodes = sym.select(col("src").as("id")).distinct()
      .localCheckpoint(true)
    var undecided = nodes
    var mis = nodes.where(lit(false))
    var round = 0
    var done = undecided.isEmpty
    while (round < maxRounds && !done) {
      round += 1
      val prio = md5Long(
        concat(lit(s"mis$round:"), col("id").cast("string")))
      val u = undecided.select(col("id"), prio.as("__p"))
        .localCheckpoint(true)
      val nmin = sym
        .join(u.select(col("id").as("src")), Seq("src"))
        .join(u.select(col("id").as("dst"), col("__p").as("__pd")),
          Seq("dst"))
        .groupBy(col("src").as("id")).agg(min("__pd").as("__nm"))
      val winners = u.join(nmin, Seq("id"), "left")
        .where(col("__nm").isNull || col("__p") < col("__nm"))
        .select("id").localCheckpoint(true)
      val wNbrs = sym
        .join(winners.select(col("id").as("src")), Seq("src"))
        .select(col("dst").as("id")).distinct()
      val prevMis = mis
      val prevUndecided = undecided
      mis = mis.union(winners).localCheckpoint(true)
      undecided = undecided
        .join(winners.union(wNbrs).distinct(), Seq("id"), "left_anti")
        .localCheckpoint(true)
      // new mis/undecided are materialized; the round's temporaries and
      // the superseded frames can release their blocks (round 1's
      // prevs are projections over `nodes`, where this is a no-op)
      Caches.unpersistCheckpoint(u)
      Caches.unpersistCheckpoint(winners)
      Caches.unpersistCheckpoint(prevMis)
      Caches.unpersistCheckpoint(prevUndecided)
      done = undecided.isEmpty
    }
    require(done,
      s"MIS did not stabilize within $maxRounds rounds — raise maxRounds")
    mis
  }

  /** Conductance of an ATTRIBUTE partition over an undirected graph:
    * for each attribute value g, φ(g) = cut(g) / min(vol(g), vol(V∖g))
    * with cut = edges crossing g's boundary and vol = Σ degrees inside
    * g. Low conductance = the attribute aligns with the graph's
    * similarity structure (e.g. near-dups stay within a source); high
    * conductance over a near-dup graph flags syndication — content
    * whose duplicate mass lives OUTSIDE its own source. (Conductance of
    * the graph's own connected components is identically 0, so the
    * interesting partition is always an external label.)
    *
    * Everything is integer edge counting: each edge contributes 1
    * within-edge to its attribute (both endpoints equal) or 1 cut-edge
    * to each of its two attributes; vol(g) = 2·within(g) + cut(g),
    * total volume = 2·|E|. The ratio lands on the 1e-6 floor grid.
    * Attributes with no incident edges keep their node count and a
    * NULL conductance. Output:
    * `attr, n_nodes, within_edges, cut_edges, volume, conductance`.
    *
    * Scale shape: two node-keyed joins tag the endpoints (the attribute
    * table broadcasts when small), then ONE combinable aggregation over
    * attribute values — no pair blow-up beyond the input edge list.
    */
  def partitionConductance(edges: DataFrame, aCol: String, bCol: String,
      nodes: DataFrame, idCol: String, attrCol: String): DataFrame = {
    val ea = edges.select(col(aCol).as("__a"), col(bCol).as("__b"))
    val na = nodes.select(col(idCol).as("__a"), col(attrCol).as("__ga"))
    val nb = nodes.select(col(idCol).as("__b"), col(attrCol).as("__gb"))
    val tagged = Caches.persist(
      ea.join(na, Seq("__a")).join(nb, Seq("__b")))
    val same = col("__ga") === col("__gb")
    val contrib = tagged.select(col("__ga").as("attr"),
        when(same, 1L).otherwise(0L).as("__w"),
        when(same, 0L).otherwise(1L).as("__c"))
      .unionByName(tagged.filter(!same)
        .select(col("__gb").as("attr"), lit(0L).as("__w"), lit(1L).as("__c")))
    val per = contrib.groupBy("attr")
      .agg(sum("__w").as("within_edges"), sum("__c").as("cut_edges"))
    val tot = tagged.agg((count(lit(1)) * 2).as("__totVol"))
    val counts = nodes.groupBy(col(attrCol).as("attr"))
      .agg(count(lit(1)).as("n_nodes"))
    val vol = col("within_edges") * 2 + col("cut_edges")
    counts.join(per, Seq("attr"), "left")
      .na.fill(0L, Seq("within_edges", "cut_edges"))
      .crossJoin(tot)
      .select(col("attr"), col("n_nodes"),
        col("within_edges"), col("cut_edges"), vol.as("volume"),
        when(vol > 0 && (col("__totVol") - vol) > 0,
          floor(col("cut_edges").cast("double")
            / least(vol, col("__totVol") - vol) * 1e6 + 0.5) / 1e6)
          .as("conductance"))
      .orderBy("attr")
  }

  /** Percolation curve of a scored similarity graph: connected-
    * component structure at each similarity threshold — the dedup
    * "aggressiveness dial" made visible (raise the threshold until
    * the giant syndication component shatters; the knee is the
    * operating point). One CC solve per threshold over the
    * pre-filtered edge set. Output per threshold:
    * `threshold, n_nodes, n_components, largest_component`.
    *
    * Scale shape: the scored pairs are computed ONCE upstream
    * (LSH-bucketed, sub-quadratic); each threshold re-filters the
    * same pair set and runs the O(log n) large-star/small-star CC.
    * |thresholds| is a small constant. The per-threshold solves are
    * INDEPENDENT, and each is a driver-sequenced round loop — run
    * them through [[graft.Par.all]] (one thread per threshold, at most
    * one per core) so the scheduler overlaps their jobs; wall-clock ≈
    * the slowest solve, not the sum, and the first failed solve
    * cancels the others. Each solve's rounds, checkpoints and telemetry
    * are private to its thread; results are unchanged by construction.
    */
  def percolation(pairs: DataFrame, aCol: String, bCol: String,
      simCol: String, thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    val cached = Caches.persist(
      pairs.select(col(aCol).as("__a"), col(bCol).as("__b"),
        col(simCol).as("__sim")))
    // materialize the shared pair cache ONCE before the solves fan
    // out: three concurrent first-touches would each recompute the
    // upstream LSH pipeline into the same cache partitions
    cached.count()
    val solves = Par.all(pairs.sparkSession)(thresholds.sorted.map { t => () =>
      val comps = connectedComponents(
        cached.where(col("__sim") >= t), "__a", "__b")
      comps.groupBy("comp").agg(count(lit(1)).as("__sz"))
        .agg(lit(t).as("threshold"),
          coalesce(sum("__sz"), lit(0L)).as("n_nodes"),
          count(lit(1)).as("n_components"),
          coalesce(max("__sz"), lit(0L)).as("largest_component"))
    })
    solves.reduce(_ unionByName _).orderBy("threshold")
  }

  /** Rich-club coefficient (Zhou & Mondragón 2004): for each degree
    * threshold k, the edge density among nodes of degree > k —
    * "do the hubs preferentially link to each other?" (φ(k) → 1 means
    * a syndication/template CORE in a near-dup graph, vs hubs that
    * only fan out to the periphery). Pure integer counting per
    * threshold. Output per k: `k, n_nodes, n_edges, phi`
    * (1e-6 grid, NULL when fewer than 2 qualifying nodes).
    *
    * Scale shape: one degree aggregate, two endpoint-degree joins
    * (the [[triangleCounts]] prologue), then a broadcast-threshold
    * crossJoin over the |ks| literal rows — counts fold map-side.
    */
  def richClub(edges: DataFrame, aCol: String, bCol: String,
      ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 0), "thresholds must be >= 0")
    val spark = edges.sparkSession
    import spark.implicits._
    val und = edges.select(
        least(col(aCol).cast("long"), col(bCol).cast("long")).as("u"),
        greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("v"))
      .where(col("u").isNotNull && col("u") =!= col("v"))
      .distinct()
      .transform(Caches.persist(_))
    val deg = und.select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("__d"))
    val kDf = broadcast(ks.toDF("k"))
    val nodesPerK = deg.crossJoin(kDf).where(col("__d") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_nodes"))
    val withDeg = und
      .join(deg.select(col("id").as("u"), col("__d").as("__du")), "u")
      .join(deg.select(col("id").as("v"), col("__d").as("__dv")), "v")
    val edgesPerK = withDeg.crossJoin(kDf)
      .where(col("__du") > col("k") && col("__dv") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_edges"))
    val nN = col("n_nodes")
    val phi = (lit(2L) * coalesce(col("n_edges"), lit(0L)))
      .cast("double") / (nN * (nN - 1)).cast("double")
    kDf.join(nodesPerK, Seq("k"), "left")
      .join(edgesPerK, Seq("k"), "left")
      .select(col("k"),
        coalesce(col("n_nodes"), lit(0L)).as("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        when(coalesce(col("n_nodes"), lit(0L)) >= 2,
          floor(phi * 1e6 + 0.5) / 1e6).as("phi"))
      .orderBy("k")
  }

  /** k-truss decomposition (Cohen 2008): the maximal subgraph in which
    * every edge closes at least k−2 triangles — the community-core
    * extractor one notch stricter than [[kCore]] (a k-core keeps hubs
    * with many DISJOINT neighbors; a k-truss demands the neighbors
    * know each other). Iteratively computes per-edge triangle support
    * and peels edges below k−2 until a fixpoint; returns the surviving
    * canonical edges with their final support: `(u, v, support)`.
    *
    * Scale shape per round: the degree-ordered wedge enumeration of
    * [[triangleCounts]] (wedge fan-out bounded by √|E| via the
    * orientation), one closing equi-join on the canonical pair key,
    * one explode-agg for per-edge support, one filter. Rounds are
    * bounded by `maxRounds` (peeling converges in O(peel depth); each
    * round's edge set is eagerly checkpointed so the plan never
    * deepens, and superseded checkpoints are unpersisted).
    */
  def kTruss(edges: DataFrame, aCol: String, bCol: String, k: Int,
      maxRounds: Int = 12): DataFrame = {
    require(k >= 3, "k must be >= 3 (k−2 triangles per edge)")
    var und = edges.select(
        least(col(aCol).cast("long"), col(bCol).cast("long")).as("u"),
        greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("v"))
      .where(col("u").isNotNull && col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    var n = und.count()
    var round = 0
    while (round < maxRounds) {
      val deg = und.select(explode(array(col("u"), col("v"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("__d"))
      val withDeg = und
        .join(deg.select(col("id").as("u"), col("__d").as("__du")), "u")
        .join(deg.select(col("id").as("v"), col("__d").as("__dv")), "v")
      val lower =
        struct(col("__du"), col("u")) < struct(col("__dv"), col("v"))
      val oriented = withDeg.select(
        when(lower, col("u")).otherwise(col("v")).as("src"),
        when(lower, col("v")).otherwise(col("u")).as("dst"))
      val wedges = oriented.as("e1")
        .join(oriented.as("e2"),
          col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
        .select(col("e1.src").as("a"), col("e1.dst").as("b"),
          col("e2.dst").as("c"))
      val tri = wedges.join(und,
          col("u") === least(col("b"), col("c")) &&
            col("v") === greatest(col("b"), col("c")))
        .select(col("a"), col("b"), col("c"))
      val edgeSup = tri.select(explode(array(
          struct(least(col("a"), col("b")).as("u"),
            greatest(col("a"), col("b")).as("v")),
          struct(least(col("a"), col("c")).as("u"),
            greatest(col("a"), col("c")).as("v")),
          struct(least(col("b"), col("c")).as("u"),
            greatest(col("b"), col("c")).as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("support"))
      val withSup = und.join(edgeSup, Seq("u", "v"), "left")
        .select(col("u"), col("v"),
          coalesce(col("support"), lit(0L)).as("support"))
      val kept = withSup.where(col("support") >= (k - 2).toLong)
      val keptE = kept.select("u", "v").localCheckpoint(true)
      val kn = keptE.count()
      if (kn == n) {
        // fixpoint: every surviving edge already meets the bound —
        // `kept` carries the final supports (und's checkpoint backs it)
        Caches.unpersistCheckpoint(keptE)
        return kept
      }
      Caches.unpersistCheckpoint(und)
      und = keptE
      n = kn
      round += 1
    }
    throw new IllegalStateException(
      s"kTruss did not reach its fixpoint in $maxRounds rounds; " +
        "raise maxRounds (the oracle unrolls the same bound)")
  }

  /** Per-node triangle counts and local clustering coefficient, plus
    * the graph's global transitivity carried on every row — the
    * "how clique-ish is each node's neighborhood" primitive under
    * community detection ([[kTruss]] exposes per-EDGE supports; this
    * is the node view, and transitivity = 3·triangles/wedges is the
    * whole-graph summary both share). lcc(v) = 2·tri(v) /
    * (deg(v)·(deg(v)−1)), NULL for degree < 2.
    *
    * Output: `(id, degree, triangles, lcc, transitivity)` (1e-6
    * grids — both ratios divide exact integers).
    *
    * Scale shape: the standard degree-oriented enumeration — each
    * triangle is generated exactly once from wedges centered at its
    * LOWEST-degree vertex ((deg,id)-lexicographic orientation), so a
    * hot hub of degree d contributes wedges only via its low-degree
    * neighbors, bounding the wedge join at Σ min-degree² instead of
    * Σ d². One distinct-edge shuffle, one wedge equi-join, one
    * membership probe against the undirected edge set, then
    * node-grain aggregates; wedge totals come off the degree table.
    */
  def clusteringCoefficient(edges: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val und = edges.select(
        least(col(aCol).cast("long"), col(bCol).cast("long")).as("u"),
        greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("v"))
      .where(col("u").isNotNull && col("u") =!= col("v"))
      .distinct()
    val undP = Caches.persist(und)
    val deg = Caches.persist(undP
      .select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("degree")))
    val withDeg = undP
      .join(deg.select(col("id").as("u"), col("degree").as("__du")), "u")
      .join(deg.select(col("id").as("v"), col("degree").as("__dv")), "v")
    val lower =
      struct(col("__du"), col("u")) < struct(col("__dv"), col("v"))
    val oriented = withDeg.select(
      when(lower, col("u")).otherwise(col("v")).as("src"),
      when(lower, col("v")).otherwise(col("u")).as("dst"))
    val tri = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"),
        col("e2.dst").as("c"))
      .join(undP,
        col("u") === least(col("b"), col("c")) &&
          col("v") === greatest(col("b"), col("c")))
      .select(col("a"), col("b"), col("c"))
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
    // global: 3·Σtri / Σ deg·(deg−1)/2 — both integer totals
    val glob = deg.agg(
      coalesce(sum(col("degree") * (col("degree") - 1L)), lit(0L))
        .as("__w2"))
    val triTot = tri.agg(count(lit(1)).as("__t"))
    def g6(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      floor(x * 1e6 + 0.5) / 1e6 + lit(0d)
    deg.join(perNode, Seq("id"), "left")
      .crossJoin(broadcast(glob)).crossJoin(broadcast(triTot))
      .select(col("id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") > 1L,
          g6(lit(2d) * coalesce(col("triangles"), lit(0L))
            .cast("double") /
            (col("degree") * (col("degree") - 1L)).cast("double")))
          .as("lcc"),
        when(col("__w2") > 0L,
          g6(lit(6d) * col("__t").cast("double") /
            col("__w2").cast("double"))).as("transitivity"))
      .orderBy("id")
  }
}
