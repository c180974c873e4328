package graft.operators

import graft.Caches
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>` / `array<double>`).
  *
  * Two tiers:
  *   - [[bruteForceKnn]] — exact top-k by cosine; the correctness
  *     baseline. The query set is broadcast, the corpus is scanned
  *     once; per-query ranking shuffles |corpus|·|queries| scored rows,
  *     so it is for small query sets / validation only.
  *   - [[lshKnn]] — random-hyperplane LSH: corpus and queries are
  *     bucketed by sign-bit signatures; only same-bucket pairs are
  *     scored. Sub-linear candidate sets at the cost of recall, the
  *     100 TB path. Multiple signature tables (`tables`) trade compute
  *     for recall.
  *
  * Hyperplane weights are md5-derived pseudo-randoms, so signatures are
  * deterministic and reproducible across engines and runs (production
  * note: a broadcast precomputed plane matrix avoids the per-element
  * hash; the md5 form is kept for cross-engine verifiability).
  */
object Similarity {

  /** Deterministic pseudo-random weight in [-1, 1] for (plane, dim):
    * md5("tag:plane:dim") → first 15 hex digits → mod 2001, centered.
    * Computed driver-side (it depends on constants only, never on
    * data), so signatures cost zero per-row hashing; the identical
    * formula is reproducible in any engine with md5
    * (`('0x'||substr(md5(s),1,15))::BIGINT % 2001` in DuckDB).
    */
  def planeWeight(tag: String, plane: Int, dim: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$tag:$plane:$dim".getBytes("UTF-8"))
    val hex = md.map(b => f"$b%02x").mkString.substring(0, 15)
    ((java.lang.Long.parseLong(hex, 16) % 2001L) - 1000L) / 1000d
  }

  /** Sign-bit signature of `vec` (fixed dimension `dims`) against
    * `planes` deterministic random hyperplanes; returns a compact
    * integer bucket key. Plane weights are literal arrays — the dot
    * products are pure codegen'd arithmetic over the vector.
    */
  def hyperplaneSignature(vec: Column, planes: Int, dims: Int, tag: String = "hp"): Column = {
    val bits = (0 until planes).map { p =>
      val w = array((0 until dims).map(j => lit(planeWeight(tag, p, j))): _*)
      val dot = aggregate(
        zip_with(vec, w, (x, wj) => x.cast("double") * wj),
        lit(0d), (acc, v) => acc + v)
      when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Infer embedding dimensionality from the first row (cheap probe;
    * pass `dims` explicitly to avoid the extra job).
    */
  private def inferDims(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).head().getInt(0)

  /** Exact cosine top-k: for each row of `queries`, the `k` most
    * similar rows of `corpus` (excluding identical ids when both sides
    * share the id space). Deterministic tie-break on corpus id.
    */
  def bruteForceKnn(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    // norms cancel out of the ranking, but cosine is part of the
    // operator contract; the fused native kernel computes dot + both
    // norms in one allocation-free pass (graft.plans.CosineSimilarityExpr)
    graft.plans.GraftExtensions.ensureRegistered(corpus.sparkSession)
    val scored = c.crossJoin(q)
      // excludeSelf only applies when corpus and queries share an id
      // space; pass false when they are unrelated tables
      .where(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .withColumn("cosine", call_function("graft_cosine", col("qv"), col("cv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Deterministic Rademacher sign (±1) for (output dim k, input dim
    * j): parity of md5("tag:k:j"). Driver-side constant; DuckDB
    * replays it as
    * `CASE WHEN ('0x'||substr(md5(s),1,15))::BIGINT % 2 = 0 THEN 1 ELSE -1 END`.
    */
  def rademacherSign(tag: String, k: Int, j: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$tag:$k:$j".getBytes("UTF-8"))
    val hex = md.map(b => f"$b%02x").mkString.substring(0, 15)
    if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1d else -1d
  }

  /** Johnson–Lindenstrauss random projection: `dims` → `outDims` via a
    * deterministic ±1 (Rademacher) sign matrix — `r_k = Σ_j v_j·s_kj`.
    * The (unscaled) Rademacher projection preserves inner products in
    * expectation (Achlioptas 2003 — database-friendly random
    * projections); the 1/√outDims scale cancels out of cosine, so it
    * is omitted. The sign matrix is ONE `typedLit` literal (the r4
    * lesson: per-cell `lit()` subtrees multiply analyzer work), and
    * the fold is sequential `aggregate`, bit-matching DuckDB's
    * `list_sum(list_transform(...))`.
    */
  def randomProjection(vec: Column, dims: Int, outDims: Int,
      tag: String = "rp"): Column = {
    val signs = typedLit(
      (0 until outDims).map(k => (0 until dims).map(j => rademacherSign(tag, k, j))))
    transform(signs, srow =>
      aggregate(zip_with(vec, srow, (x, s) => x.cast("double") * s),
        lit(0d), (acc, v) => acc + v))
  }

  /** Random-projection ANN: cosine top-k in the `outDims`-dimensional
    * JL-projected space — the cheap-filter tier of an ANN stack (a
    * 64→16 projection cuts the per-pair arithmetic 4× at modest recall
    * loss; chain with an exact re-rank when exactness matters).
    * Returns (`query_id`, `neighbor_id`, `rp_cosine`, `rank`);
    * `rp_cosine` is measured in the PROJECTED space.
    *
    * Scale shape: projection is a map-only codegen'd pass on both
    * sides; ranking reuses [[bruteForceKnn]]'s broadcast-queries scan
    * over vectors 4× narrower than the originals.
    */
  def rpKnn(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      dims: Int, outDims: Int = 16,
      excludeSelf: Boolean = true): DataFrame = {
    def reduced(df: DataFrame) = df.select(col(idCol),
      randomProjection(col(vecCol), dims, outDims).as("_rp"))
    bruteForceKnn(reduced(corpus), reduced(queries), "_rp", idCol, k,
        excludeSelf)
      .withColumnRenamed("cosine", "rp_cosine")
  }

  /** LSH-bucketed ANN: candidates = same (table, signature) bucket in
    * any of `tables` independent hyperplane sets; exact cosine ranks
    * candidates, top-k per query. Recall < 1 by construction.
    */
  def lshKnn(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      planes: Int = 8, tables: Int = 2, dims: Int = -1,
      excludeSelf: Boolean = true): DataFrame = {

    val dim = if (dims > 0) dims else inferDims(corpus, vecCol)

    graft.plans.GraftExtensions.ensureRegistered(corpus.sparkSession)

    def signed(df: DataFrame, id: String): DataFrame =
      df.select(
        col(idCol).as(id), col(vecCol).as(s"${id}_vec"),
        explode(array((0 until tables).map { t =>
          struct(
            lit(t).as("table"),
            hyperplaneSignature(col(vecCol), planes, dim, s"hp$t").as("sig"))
        }: _*)).as("bk"))
        .select(col(id), col(s"${id}_vec"), col("bk.table"), col("bk.sig"))

    val c = signed(corpus, "neighbor_id")
    val q = broadcast(signed(queries, "query_id"))
    val candidates = c.join(q, Seq("table", "sig"))
      .where(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .select("query_id", "neighbor_id", "query_id_vec", "neighbor_id_vec")
      .distinct() // collapse multi-table collisions
      .withColumn("cosine",
        call_function("graft_cosine", col("query_id_vec"), col("neighbor_id_vec")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    candidates.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  // -------------------------------------------------------------- IVF

  /** Unit-normalize a centroid (zero vectors pass through). */
  private def normalize(c: Array[Double]): Array[Double] = {
    val n = math.sqrt(c.map(x => x * x).sum)
    if (n == 0d) c else c.map(_ / n)
  }

  /** Dot product of `vecD` (array<double>) against each pre-normalized
    * centroid literal, as `(score, list)` structs. For NEAREST-centroid
    * selection the row's own norm is constant across centroids, so
    * dot-with-normalized-centroid ranks identically to cosine at half
    * the arithmetic (and without a divide-by-zero hazard on zero
    * vectors). Pure codegen'd arithmetic, no shuffle.
    */
  private def centroidScores(vecD: Column, cents: Array[Array[Double]]): Column = {
    // ONE literal holding every centroid: an array<struct<cvec,list>>
    // traversed with transform. Embedding each centroid as its own
    // literal subtree multiplies analyzer/optimizer work by nLists ×
    // |subtree| and made k-means planning-bound (seconds per round);
    // a single literal keeps the expression tree tiny regardless of
    // nLists. The cast pins struct field names (aliases on
    // higher-order-function children are dropped in lambda resolution).
    val centsLit = typedLit(
      cents.zipWithIndex.map { case (c, i) => (normalize(c).toSeq, i) }.toSeq)
      .cast("array<struct<cvec:array<double>,list:int>>")
    transform(centsLit, c =>
      struct(
        aggregate(zip_with(vecD, c.getField("cvec"), (x, w) => x * w),
          lit(0d), (acc, v) => acc + v),
        c.getField("list")).cast("struct<s:double,list:int>"))
  }

  /** The `nProbe` nearest centroid list-ids for `vec` (descending
    * cosine, ties to the lower list id — deterministic).
    */
  def nearestLists(vec: Column, cents: Array[Array[Double]], nProbe: Int): Column =
    transform(
      slice(
        array_sort(centroidScores(vec.cast("array<double>"), cents), (a, b) =>
          when(a.getField("s") > b.getField("s"), -1)
            .when(a.getField("s") < b.getField("s"), 1)
            .otherwise(a.getField("list") - b.getField("list"))),
        1, nProbe),
      e => e.getField("list"))

  /** Lloyd k-means over the embedding column, driver-looped:
    * init = the vectors of the `nLists` smallest ids (deterministic),
    * then `iters` rounds of {assign via codegen'd argmax over centroid
    * literals; re-estimate via posexplode + per-(list, dim) avg —
    * one narrow pass + one slim shuffle per round}. Centroids live on
    * the driver (nLists × dims doubles — metadata scale); empty lists
    * keep their previous centroid.
    *
    * The quantizer trains on a BOUNDED deterministic sample: the
    * `trainCap` vectors with the smallest `md5("km:" || id)` — the
    * standard IVF practice (FAISS trains its coarse quantizer on a
    * fixed-size sample, not the corpus). Fitting 8–64 centroids needs
    * thousands of vectors, not billions; training on the full corpus
    * would cost `iters`+1 full scans per build at 100 TB. The sampled
    * form costs ONE full-corpus pass (a TakeOrdered whose map-side
    * top-k is `trainCap`-bounded), caches the sample, and iterates on
    * it — corpus-pass count is independent of `iters`. The md5 rule is
    * SQL-expressible, so the DuckDB oracles replay it exactly; when the
    * corpus is at-or-under `trainCap` (every gate SF) the sample IS the
    * corpus and the result is bit-identical to full-corpus training.
    */
  def kmeansCentroids(
      corpus: DataFrame, vecCol: String, idCol: String,
      nLists: Int, iters: Int = 3, dims: Int = -1,
      trainCap: Int = 262144): Array[Array[Double]] = {
    graft.plans.GraftExtensions.ensureRegistered(corpus.sparkSession)
    val dim = if (dims > 0) dims else inferDims(corpus, vecCol)
    Caches.scoped {
      val train = Caches.persist(corpus
        .select(col(idCol), col(vecCol).cast("array<double>").as("_vd"))
        .orderBy(md5(concat_ws(":", lit("km"), col(idCol).cast("string"))))
        .limit(trainCap))
      var cents: Array[Array[Double]] = train
        .orderBy(col(idCol)).limit(nLists)
        .select(col("_vd")).collect()
        .map(_.getSeq[Double](0).toArray)
      require(cents.length == nLists,
        s"corpus has fewer rows (${cents.length}) than nLists=$nLists")
      for (_ <- 1 to iters) {
        // staged projection: the argmax assignment must materialize
        // BELOW the generator — inlined next to posexplode it would be
        // re-evaluated once per exploded dimension (64× the work)
        val assigned = train
          .select(
            element_at(nearestLists(col("_vd"), cents, 1), 1).as("list"),
            col("_vd"))
          .select(col("list"), posexplode(col("_vd")).as(Seq("pos", "v")))
        val means = assigned.groupBy("list", "pos").agg(avg(col("v")).as("m"))
          .collect()
        val next = cents.map(_.clone())
        means.foreach { r =>
          next(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
        }
        cents = next
      }
      cents
    }
  }

  /** Two-level (coarse → fine) k-means quantizer — the IVF practice
    * that keeps quantization LINEAR-ish when the list count must grow
    * with the corpus (FAISS's IMI/two-level recipe): train `k1 ≈ √k`
    * coarse centroids with plain Lloyd, partition the train sample by
    * coarse cell, then train `k2 = ⌈k/k1⌉` fine centroids INSIDE each
    * cell (grouped Lloyd: one argmax pass against a single
    * array<struct> literal of all fine centroids, filtered per row to
    * its own cell — k1 integer predicates + k2 dot products per row
    * instead of k). Per-row assignment cost drops from O(k) to
    * O(√k); with k ∝ corpus/targetListSize that turns the quadratic
    * n·k quantization into n·√k. Assignment is approximate in the
    * standard IVF sense (nearest-coarse-then-nearest-fine can miss
    * the global nearest list) — identical vectors still always land
    * in the same list. Empty init slots fall back to the cell's
    * coarse centroid, so list ids are stable. Global list id =
    * `coarse·k2 + sub`. Returns (coarse, subs[k1][k2]).
    */
  def twoLevelCentroids(corpus: DataFrame, vecCol: String, idCol: String,
      nLists: Int, iters: Int = 2, dims: Int = -1,
      trainCap: Int = 262144)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    graft.plans.GraftExtensions.ensureRegistered(corpus.sparkSession)
    val k1 = math.ceil(math.sqrt(nLists.toDouble)).toInt
    val k2 = math.ceil(nLists.toDouble / k1).toInt
    val coarse = kmeansCentroids(corpus, vecCol, idCol, k1, iters, dims,
      trainCap)
    Caches.scoped {
      val train = Caches.persist(corpus
        .select(col(idCol).as("__id"), col(vecCol).cast("array<double>").as("_vd"))
        .orderBy(md5(concat_ws(":", lit("km"), col("__id").cast("string"))))
        .limit(trainCap)
        .select(col("__id"), col("_vd"),
          element_at(nearestLists(col("_vd"), coarse, 1), 1).as("__c")))
      val w = Window.partitionBy("__c").orderBy("__id")
      val initRows = train.withColumn("__rn", row_number().over(w))
        .where(col("__rn") <= k2)
        .select(col("__c"), (col("__rn") - 1).as("__s"), col("_vd"))
        .collect()
      var cur = Array.tabulate(k1, k2)((c, _) => coarse(c).clone())
      initRows.foreach { r =>
        cur(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
      }
      for (_ <- 1 to iters) {
        // stage the argmax BELOW the generator (the kmeansCentroids
        // discipline — inlined beside posexplode it re-runs per dim)
        val assigned = train
          .select(col("__c"), col("_vd"),
            nearestSubList(col("_vd"), col("__c"), cur).as("__s"))
          .select(col("__c"), col("__s"),
            posexplode(col("_vd")).as(Seq("pos", "v")))
        val means = assigned.groupBy("__c", "__s", "pos")
          .agg(avg(col("v")).as("m")).collect()
        val next = cur.map(_.map(_.clone()))
        means.foreach { r =>
          next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
        }
        cur = next
      }
      (coarse, cur)
    }
  }

  /** Fine-list argmax for [[twoLevelCentroids]]: per row, filter the
    * single all-fine-centroid literal down to the row's coarse cell
    * (integer predicate — no dot product spent on other cells), score
    * the ≤ k2 survivors, take the max. Ties break toward the LARGER
    * sub id (array_max lexicographic) — a fixed deterministic rule.
    */
  def nearestSubList(vecD: Column, coarseCol: Column,
      subs: Array[Array[Array[Double]]]): Column = {
    val subsLit = typedLit(
      (for {
        c <- subs.indices
        s <- subs(c).indices
      } yield (c, s, normalize(subs(c)(s)).toSeq)).toSeq)
      .cast("array<struct<c:int,sid:int,cvec:array<double>>>")
    array_max(transform(
      filter(subsLit, e => e.getField("c") === coarseCol),
      e => struct(
        aggregate(zip_with(vecD, e.getField("cvec"), (x, w) => x * w),
          lit(0d), (a, v) => a + v),
        e.getField("sid")).cast("struct<score:double,sid:int>")))
      .getField("sid")
  }

  /** IVF (inverted-file) ANN — the learned-partition scale path: a
    * k-means coarse quantizer splits the corpus into `nLists` inverted
    * lists; each query probes only its `nProbe` nearest lists and
    * re-ranks candidates with exact cosine. Candidates travel through
    * a plain equi-join on the list id (queries broadcast), so the scan
    * touches |corpus|·nProbe/nLists rows per query in expectation —
    * sub-linear like [[lshKnn]], but with data-adaptive partitions
    * (learned centroids follow the embedding distribution; random
    * hyperplanes don't). Recall < 1 by construction; raise `nProbe`
    * to trade compute for recall.
    */
  def ivfKnn(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      nLists: Int = 16, nProbe: Int = 4, iters: Int = 3, dims: Int = -1,
      excludeSelf: Boolean = true, trainCap: Int = 262144): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(corpus.sparkSession)
    val dim = if (dims > 0) dims else inferDims(corpus, vecCol)
    val cents = kmeansCentroids(corpus, vecCol, idCol, nLists, iters, dim,
      trainCap)
    val c = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      element_at(nearestLists(col(vecCol), cents, 1), 1).as("list"))
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).as("qv"),
      explode(nearestLists(col(vecCol), cents, nProbe)).as("list")))
    val candidates = c.join(q, "list")
      .where(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .withColumn("cosine", call_function("graft_cosine", col("qv"), col("cv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    candidates.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** A persisted IVF index: the coarse-quantizer centroids (driver-side,
    * nLists × dims doubles — the ONLY driver state) plus the inverted
    * file itself — `(id, vec, list)` — as a DataFrame. The
    * build-once/query-many lifecycle a production ANN corpus runs:
    * training k-means over 100 TB of embeddings costs a full corpus
    * pass, so the index is built by the ETL stage, written as parquet
    * sidecars, and every query session [[readIvfIndex]]s it back
    * instead of re-clustering.
    */
  final case class IvfIndex(
      centroids: Array[Array[Double]], assigned: DataFrame)

  /** Build the inverted file once (same quantizer as [[ivfKnn]]). */
  def buildIvfIndex(corpus: DataFrame, vecCol: String, idCol: String,
      nLists: Int = 16, iters: Int = 3, dims: Int = -1,
      trainCap: Int = 262144): IvfIndex = {
    graft.plans.GraftExtensions.ensureRegistered(corpus.sparkSession)
    val dim = if (dims > 0) dims else inferDims(corpus, vecCol)
    val cents = kmeansCentroids(corpus, vecCol, idCol, nLists, iters, dim,
      trainCap)
    IvfIndex(cents, corpus.select(
      col(idCol).as("id"), col(vecCol).cast("array<float>").as("vec"),
      element_at(nearestLists(col(vecCol), cents, 1), 1).as("list")))
  }

  /** Write the index as two parquet sidecars: `centroids` (list, pos,
    * v — long format, engine-portable) and `assigned` (the inverted
    * file, written partitioned-by-list so a probe reads only its
    * lists' directories: partition pruning IS the inverted-file seek).
    */
  def writeIvfIndex(index: IvfIndex, dir: String): Unit = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    index.centroids.zipWithIndex
      .flatMap { case (c, l) => c.zipWithIndex.map { case (v, p) => (l, p, v) } }
      .toSeq.toDF("list", "pos", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    index.assigned.write.mode("overwrite").partitionBy("list")
      .parquet(s"$dir/assigned")
  }

  /** Load a persisted index. Centroids are collected to the driver
    * (nLists × dims — broadcast-sized by construction); the inverted
    * file stays a lazy partitioned scan.
    */
  def readIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): IvfIndex = {
    val centRows = spark.read.parquet(s"$dir/centroids")
      .select("list", "pos", "v").collect()
    val nLists = centRows.map(_.getInt(0)).max + 1
    val dims = centRows.map(_.getInt(1)).max + 1
    val cents = Array.ofDim[Double](nLists, dims)
    centRows.foreach(r => cents(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    IvfIndex(cents, spark.read.parquet(s"$dir/assigned")
      .select(col("id"), col("vec"), col("list").cast("int").as("list")))
  }

  /** [[ivfKnn]]'s probe stage against a prebuilt [[IvfIndex]] — no
    * training pass; with `nProbe` = nLists the probe is exhaustive and
    * the result is EXACT brute-force top-k (the oracle-checkable
    * setting; production uses nProbe ≪ nLists for the sub-linear scan).
    */
  def ivfKnnIndexed(index: IvfIndex, queries: DataFrame,
      vecCol: String, idCol: String, k: Int, nProbe: Int = 4,
      excludeSelf: Boolean = true): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(queries.sparkSession)
    val c = index.assigned.select(
      col("id").as("neighbor_id"), col("vec").as("cv"), col("list"))
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).as("qv"),
      explode(nearestLists(col(vecCol), index.centroids, nProbe)).as("list")))
    val candidates = c.join(q, "list")
      .where(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .withColumn("cosine", call_function("graft_cosine", col("qv"), col("cv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    candidates.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  // --------------------------------------------------------------- PQ

  /** Squared-L2 of the staged subvector `sv` against each codebook
    * entry, as `(d, code)` structs. Same single-literal shape as
    * [[centroidScores]] (one `array<struct>` literal traversed with
    * `transform` keeps the expression tree ksub-independent). PQ
    * assigns by L2 — the codebook minimizes reconstruction error, not
    * angle — so no normalization is involved.
    */
  private def subCodeDists(sv: Column, cb: Array[Array[Double]]): Column = {
    val cbLit = typedLit(cb.zipWithIndex.map { case (c, i) => (c.toSeq, i) }.toSeq)
      .cast("array<struct<cvec:array<double>,code:int>>")
    transform(cbLit, c =>
      struct(
        aggregate(zip_with(sv, c.getField("cvec"), (x, w) => (x - w) * (x - w)),
          lit(0d), (acc, v) => acc + v),
        c.getField("code")).cast("struct<d:double,code:int>"))
  }

  /** Nearest code id (ascending L2, ties to the lower code —
    * deterministic, mirrored by the oracle's `ORDER BY d, code`).
    */
  private def argminCode(dists: Column): Column =
    element_at(
      array_sort(dists, (a, b) =>
        when(a.getField("d") < b.getField("d"), -1)
          .when(a.getField("d") > b.getField("d"), 1)
          .otherwise(a.getField("code") - b.getField("code"))),
      1).getField("code")

  /** Product-quantization codebooks: the vector is split into `m`
    * contiguous subspaces of `dims/m` dimensions; each subspace gets an
    * independent `ksub`-centroid Lloyd k-means (squared-L2, the PQ
    * objective). Returns `codebooks(j)(code)` = subvector centroid.
    *
    * Trains on the same bounded deterministic sample as
    * [[kmeansCentroids]] (lowest `md5("km:" || id)`, `trainCap` rows),
    * so corpus-pass count is independent of `iters` and the sample rule
    * replays in SQL. All `m` subspaces assign + re-estimate in ONE pass
    * per iteration: codes are staged as materialized attributes below
    * the generator (lambda-CSE footgun), then a double explode fans out
    * (subspace, code, pos, value) for a combinable per-cell avg — the
    * shuffle carries m·ksub·dsub cells of partial sums, never vectors.
    * Init mirrors the IVF unroll: the subvectors of the `ksub`
    * smallest-id sample rows; empty cells keep their previous centroid.
    */
  def pqCodebooks(
      corpus: DataFrame, vecCol: String, idCol: String,
      m: Int, ksub: Int, iters: Int = 2, dims: Int = -1,
      trainCap: Int = 262144): Array[Array[Array[Double]]] = {
    val dim = if (dims > 0) dims else inferDims(corpus, vecCol)
    require(dim % m == 0, s"dims=$dim not divisible by m=$m")
    val dsub = dim / m
    val subCols = (0 until m).map(j => col(s"_s$j"))
    Caches.scoped {
      val train = Caches.persist(corpus
        .select(col(idCol).as("_id"), col(vecCol).cast("array<double>").as("_vd"))
        .orderBy(md5(concat_ws(":", lit("km"), col("_id").cast("string"))))
        .limit(trainCap)
        .select(col("_id") +: (0 until m).map(j =>
          slice(col("_vd"), j * dsub + 1, dsub).as(s"_s$j")): _*))
      val init = train.orderBy(col("_id")).limit(ksub)
        .select(subCols: _*).collect()
      require(init.length == ksub,
        s"corpus has fewer rows (${init.length}) than ksub=$ksub")
      var cbs: Array[Array[Array[Double]]] = Array.tabulate(m, ksub) {
        (j, c) => init(c).getSeq[Double](j).toArray
      }
      for (_ <- 1 to iters) {
        val coded = train.select(subCols ++ (0 until m).map(j =>
          argminCode(subCodeDists(col(s"_s$j"), cbs(j))).as(s"_c$j")): _*)
        val cells = coded
          .select(explode(array((0 until m).map(j =>
            struct(lit(j).as("j"), col(s"_c$j").as("code"),
              col(s"_s$j").as("sv"))): _*)).as("e"))
          .select(col("e.j"), col("e.code"), posexplode(col("e.sv")))
          .groupBy("j", "code", "pos").agg(avg(col("col")).as("mean"))
          .collect()
        val next = cbs.map(_.map(_.clone()))
        cells.foreach { r =>
          next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
        }
        cbs = next
      }
      cbs
    }
  }

  /** PQ-encode: `m` codebook codes per vector (`array<int>`), staged
    * through materialized subvector attributes. Map-only — the one
    * full-corpus pass a PQ build needs.
    */
  def pqEncode(df: DataFrame, vecCol: String, idCol: String,
      cbs: Array[Array[Array[Double]]], outCol: String = "codes"): DataFrame = {
    val m = cbs.length
    val dsub = cbs.head.head.length
    df.select(col(idCol), col(vecCol).cast("array<double>").as("_vd"))
      .select(col(idCol) +: (0 until m).map(j =>
        slice(col("_vd"), j * dsub + 1, dsub).as(s"_s$j")): _*)
      .select(col(idCol), array((0 until m).map(j =>
        argminCode(subCodeDists(col(s"_s$j"), cbs(j)))): _*).as(outCol))
  }

  /** PQ/ADC ANN — the memory-bounded scale path: the corpus is encoded
    * once to `m` small codes per vector (a map-only pass), and queries
    * score candidates by asymmetric distance computation — the sum over
    * subspaces of dot(query subvector, codebook centroid of the
    * neighbor's code). The ranking scan reads only `(id, m codes)` —
    * ~`4·m` bytes/row against `4·dims` for raw floats (16× less IO at
    * m=4, dims=64), with codebooks as literals (m·ksub·dsub doubles —
    * metadata at any corpus size), so a 100 TB float corpus becomes a
    * ~6 TB code scan with zero shuffle on the corpus side (queries
    * broadcast, ranking is a per-query window over TakeOrdered-style
    * top-k). `refine > 0` re-ranks the top-`refine` ADC shortlist with
    * exact cosine — the standard two-stage PQ search; the join back to
    * raw vectors touches only `refine·|queries|` rows.
    *
    * Approximation note: ADC ranks by reconstructed inner product;
    * recall < 1 by construction (quantization error), traded against
    * `ksub`/`m` and recovered by `refine`.
    */
  def pqKnn(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      m: Int = 4, ksub: Int = 4, iters: Int = 2, dims: Int = -1,
      excludeSelf: Boolean = true, refine: Int = 0,
      trainCap: Int = 262144): DataFrame = {
    val dim = if (dims > 0) dims else inferDims(corpus, vecCol)
    val dsub = dim / m
    val cbs = pqCodebooks(corpus, vecCol, idCol, m, ksub, iters, dim, trainCap)
    val enc = pqEncode(corpus, vecCol, idCol, cbs)
      .withColumnRenamed(idCol, "neighbor_id")
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv")))
    val adc = (0 until m).map { j =>
      val cbLitJ = typedLit(cbs(j).map(_.toSeq).toSeq).cast("array<array<double>>")
      aggregate(
        zip_with(slice(col("qv"), j * dsub + 1, dsub),
          element_at(cbLitJ, element_at(col("codes"), j + 1) + 1),
          (x, w) => x * w),
        lit(0d), (acc, v) => acc + v)
    }.reduce(_ + _)
    val scored = enc.crossJoin(q)
      .where(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .withColumn("adc", adc)
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc").desc, col("neighbor_id").asc)
    val ranked = scored.withColumn("rank", row_number().over(w))
    if (refine <= 0)
      ranked.where(col("rank") <= k)
        .select("query_id", "neighbor_id", "adc", "rank")
    else {
      graft.plans.GraftExtensions.ensureRegistered(corpus.sparkSession)
      val shortlist = ranked.where(col("rank") <= math.max(k, refine))
        .select("query_id", "qv", "neighbor_id", "adc")
      val exact = shortlist
        .join(corpus.select(col(idCol).as("neighbor_id"),
          col(vecCol).as("cv")), "neighbor_id")
        .withColumn("cosine", call_function("graft_cosine", col("qv"), col("cv")))
      val w2 = Window.partitionBy("query_id")
        .orderBy(col("cosine").desc, col("neighbor_id").asc)
      exact.withColumn("rank", row_number().over(w2))
        .where(col("rank") <= k)
        .select("query_id", "neighbor_id", "adc", "cosine", "rank")
    }
  }

  /** Symmetric int8 scalar quantization + integer-dot ANN — the
    * memory-tier companion to [[pqKnn]]: a single global scale
    * S = max |component| over the corpus maps every component to
    * round(x/S·127) ∈ [−127, 127], shrinking the index 4× (vs float32)
    * while keeping ranking EXACT arithmetic: with one uniform scale the
    * int32 dot product is order-isomorphic to the reconstructed inner
    * product, so scores are integers and the ranking carries zero
    * float-summation-order risk (unlike ADC). `refine > 0` re-ranks a
    * `refine`-deep shortlist by exact cosine over the original vectors.
    *
    * Scale shape: S is ONE combinable aggregation (per-row max-abs,
    * then global max — no explode); encoding is a pure map; scoring
    * broadcasts the (small) query set against the encoded corpus and
    * takes per-query top-k with a WindowGroupLimit. At 100 TB the
    * natural composition is [[kmeansCentroids]]-style IVF pruning over
    * the int8 codes — the quantization is orthogonal to candidate
    * generation.
    */
  def sqKnn(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      excludeSelf: Boolean = true, refine: Int = 0): DataFrame = {
    val e = corpus.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
    val s = e.select(max(aggregate(col("v"), lit(0d),
      (acc, x) => greatest(acc, abs(x)))).as("s")).head.getDouble(0)
    val scale = if (s > 0) s else 1d // all-zero corpus: codes all 0
    def encode(df: DataFrame, id: String): DataFrame =
      df.select(col(idCol).as(id),
        transform(col(vecCol).cast("array<double>"),
          x => round(x / lit(scale) * 127).cast("int")).as(s"c_$id"))
    val enc = encode(e.withColumnRenamed("v", vecCol), "neighbor_id")
    val q = broadcast(encode(queries, "query_id"))
    val dot = aggregate(
      zip_with(col("c_query_id"), col("c_neighbor_id"),
        (a, b) => (a * b).cast("long")),
      lit(0L), (acc, v) => acc + v)
    val scored = enc.crossJoin(q)
      .where(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .withColumn("dot", dot)
    val w = Window.partitionBy("query_id")
      .orderBy(col("dot").desc, col("neighbor_id").asc)
    val ranked = scored.withColumn("rank", row_number().over(w))
    if (refine <= 0)
      ranked.where(col("rank") <= k)
        .select("query_id", "neighbor_id", "dot", "rank")
    else {
      graft.plans.GraftExtensions.ensureRegistered(corpus.sparkSession)
      val shortlist = ranked.where(col("rank") <= math.max(k, refine))
        .select("query_id", "neighbor_id", "dot")
      val exact = shortlist
        .join(broadcast(queries.select(col(idCol).as("query_id"),
          col(vecCol).cast("array<double>").as("qv"))), "query_id")
        .join(corpus.select(col(idCol).as("neighbor_id"),
          col(vecCol).as("cv")), "neighbor_id")
        .withColumn("cosine", call_function("graft_cosine", col("qv"), col("cv")))
      val w2 = Window.partitionBy("query_id")
        .orderBy(col("cosine").desc, col("neighbor_id").asc)
      exact.withColumn("rank", row_number().over(w2))
        .where(col("rank") <= k)
        .select("query_id", "neighbor_id", "dot", "cosine", "rank")
    }
  }

  /** Binary (1-bit) quantization + Hamming-distance ANN — the extreme
    * memory tier below [[sqKnn]]'s int8 (32× smaller than float32):
    * each component collapses to its sign bit, packed 32 bits per
    * 64-bit word (a 32-bit word per half keeps every packed value
    * positive in BOTH engines — `1 << 63` would wrap a signed BIGINT),
    * and candidate ranking is `popcount(xor)` over the words — pure
    * integer arithmetic, zero float-order risk, SIMD-friendly on real
    * hardware. For sign-distributed embeddings the Hamming distance is
    * a monotone estimate of angular distance (the [[lshKnn]]
    * hyperplane argument with the coordinate axes as planes), so a
    * `refine`-deep exact-cosine re-rank recovers most of the recall —
    * the standard binary-quantization retrieval design.
    *
    * Scale shape: encoding is a pure map (one aggregate fold per
    * word); the query side broadcasts; per-query shortlists come from
    * a `row_number ≤ shortlist` WindowGroupLimit (map-side top-k
    * below the exchange); only shortlist rows pay the float cosine.
    */
  def binaryKnn(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      excludeSelf: Boolean = true, refine: Int = 20): DataFrame = {
    val dims = inferDims(corpus, vecCol)
    val nWords = (dims + 31) / 32
    def packWord(vec: Column, off: Int): Column =
      aggregate(
        sequence(lit(0), lit(math.min(31, dims - off - 1))),
        lit(0L),
        (acc, j) => acc + when(
          element_at(vec, j + lit(off + 1)).cast("double") > lit(0d),
          call_function("shiftleft", lit(1L), j)).otherwise(lit(0L)))
    def encode(df: DataFrame, id: String): DataFrame =
      df.select(col(idCol).as(id),
        array((0 until nWords).map(w => packWord(
          col(vecCol).cast("array<double>"), w * 32)): _*).as(s"c_$id"))
    val enc = encode(corpus, "neighbor_id")
    val q = broadcast(encode(queries, "query_id"))
    val hamming = aggregate(
      zip_with(col("c_query_id"), col("c_neighbor_id"),
        (a, b) => bit_count(a.bitwiseXOR(b)).cast("long")),
      lit(0L), (acc, v) => acc + v)
    val scored = enc.crossJoin(q)
      .where(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .withColumn("hamming", hamming)
    val w = Window.partitionBy("query_id")
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    val shortlist = scored.withColumn("hrank", row_number().over(w))
      .where(col("hrank") <= math.max(k, refine))
      .select("query_id", "neighbor_id", "hamming")
    if (refine <= 0)
      shortlist.withColumn("rank",
          row_number().over(Window.partitionBy("query_id")
            .orderBy(col("hamming").asc, col("neighbor_id").asc)))
        .where(col("rank") <= k)
    else {
      graft.plans.GraftExtensions.ensureRegistered(corpus.sparkSession)
      val exact = shortlist
        .join(broadcast(queries.select(col(idCol).as("query_id"),
          col(vecCol).cast("array<double>").as("qv"))), "query_id")
        .join(corpus.select(col(idCol).as("neighbor_id"),
          col(vecCol).as("cv")), "neighbor_id")
        .withColumn("cosine", call_function("graft_cosine", col("qv"), col("cv")))
      val w2 = Window.partitionBy("query_id")
        .orderBy(col("cosine").desc, col("neighbor_id").asc)
      exact.withColumn("rank", row_number().over(w2))
        .where(col("rank") <= k)
        .select("query_id", "neighbor_id", "hamming", "cosine", "rank")
    }
  }

  /** Per-group embedding outliers — the semantic-filtering signal a
    * curation pipeline uses to spot mislabeled / off-distribution
    * documents (the SemDeDup/centroid-distance family): the `k` rows
    * of each group least similar (cosine) to their own group's mean
    * vector. One narrow posexplode + per-(group, dim) avg builds the
    * centroids (map-side combinable — the shuffle carries (group, dim,
    * partial sums), never vectors); centroids are group-count-sized
    * metadata, so the join back is a broadcast at any corpus scale.
    */
  def centroidOutliers(emb: DataFrame, vecCol: String, idCol: String,
      groupCol: String, k: Int): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(emb.sparkSession)
    val e = emb.select(col(idCol), col(groupCol),
      col(vecCol).cast("array<double>").as("v"))
    val cents = e.select(col(groupCol), posexplode(col("v")))
      .groupBy(groupCol, "pos").agg(avg("col").as("m"))
      .groupBy(groupCol)
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("c"))
    val scored = e.join(broadcast(cents), groupCol)
      .withColumn("cosine", call_function("graft_cosine", col("v"), col("c")))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("cosine").asc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(groupCol), col(idCol),
        round(col("cosine"), 4).as("cosine"), col("rank"))
  }

  /** IVF recall audit — the [[Dedup.lshRecallReport]] analog for the
    * vector index: per query, how much of the exact top-k
    * ([[bruteForceKnn]] truth) the probed IVF scan ([[ivfKnn]])
    * recovered. THE parameter-tuning artifact for (nLists, nProbe):
    * recall rises with nProbe, scan cost with nProbe/nLists — this
    * report is the curve's y-axis. Emits per query:
    * `(query_id, n_truth, n_hits, recall)`.
    *
    * Scale shape: at tuning time truth is computed for a BOUNDED
    * query sample (the brute-force side is |queries|·|corpus| — a
    * sample is the only honest way to measure recall at any scale);
    * the overlap join is (queries·k)-sized metadata.
    */
  def ivfRecallReport(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      nLists: Int = 16, nProbe: Int = 4, iters: Int = 3,
      dims: Int = -1): DataFrame = {
    val truth = bruteForceKnn(corpus, queries, vecCol, idCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val approx = ivfKnn(corpus, queries, vecCol, idCol, k, nLists, nProbe,
      iters, dims)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
    truth.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_truth"), count(col("__hit")).as("n_hits"))
      .select(col("query_id"), col("n_truth"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_truth"), 6).as("recall"))
  }

  /** External clustering evaluation — purity and NMI of the k-means
    * assignment against gold labels: purity = Σ_k max_l n_kl / N (what
    * fraction lands in its cluster's majority class) and normalized
    * mutual information I(K;L)/√(H_K·H_L) (penalizes trivially many
    * clusters the way purity doesn't). The pair every clustering paper
    * reports; here it grades the IVF quantizer against the `label`
    * column. One row: `(n, n_lists, n_labels, purity, nmi)`.
    *
    * Scale shape: sampled training ([[kmeansCentroids]]), ONE map-only
    * assignment pass, then all statistics from the
    * (nLists × nLabels)-cell contingency — margins join back on the
    * cell grain, floats only in the ≤ cells-count entropy sums
    * (6dp-rounded).
    */
  def clusterLabelAgreement(emb: DataFrame, vecCol: String, idCol: String,
      labelCol: String, nLists: Int, iters: Int = 2,
      dims: Int = -1): DataFrame = {
    val cents = kmeansCentroids(emb, vecCol, idCol, nLists, iters, dims)
    val assigned = emb.select(col(labelCol).as("lbl"),
      element_at(
        nearestLists(col(vecCol).cast("array<double>"), cents, 1), 1)
        .as("list"))
    val cells = Caches.persist(
      assigned.groupBy("list", "lbl").agg(count(lit(1)).as("c")))
    val rk = cells.groupBy("list").agg(sum("c").as("nk"), max("c").as("mk"))
    val rl = cells.groupBy("lbl").agg(sum("c").as("nl"))
    val n1 = broadcast(cells.agg(sum("c").as("nn")))
    val mi = cells.join(rk.select("list", "nk"), Seq("list"))
      .join(rl, Seq("lbl")).crossJoin(n1)
      .agg(sum((col("c") / col("nn"))
        * log(col("nn") * col("c") / (col("nk") * col("nl")))).as("__mi"))
    val kside = rk.crossJoin(n1).agg(
      first(col("nn")).as("n"),
      count(lit(1)).as("n_lists"),
      sum("mk").as("__summax"),
      (-sum((col("nk") / col("nn")) * log(col("nk") / col("nn"))))
        .as("__hk"))
    val lside = rl.crossJoin(n1).agg(
      count(lit(1)).as("n_labels"),
      (-sum((col("nl") / col("nn")) * log(col("nl") / col("nn"))))
        .as("__hl"))
    kside.crossJoin(broadcast(mi)).crossJoin(broadcast(lside))
      .select(col("n"), col("n_lists"), col("n_labels"),
        round(col("__summax").cast("double") / col("n"), 6).as("purity"),
        round(when(col("__hk") > 0 && col("__hl") > 0,
            col("__mi") / sqrt(col("__hk") * col("__hl")))
          .otherwise(lit(0d)), 6).as("nmi"))
  }

  /** Embedding-space geometry audit — the pairwise-cosine histogram of
    * a bounded deterministic sample: collapsed/anisotropic embedding
    * spaces (all cosines ≈ 1) and healthy spread ones look completely
    * different here, and this is the 5-minute check before trusting
    * any cosine threshold. The sample is the `sampleN` lowest
    * `md5("pd:"||id)` vectors; all sample pairs are scored and binned
    * at 0.1 width. Emits `(bin, cos_lo, n_pairs, share)`.
    *
    * Scale shape: ONE corpus pass (TakeOrdered to the sample), then
    * all-pairs ONLY within the fixed-size sample (sampleN²/2 — a
    * constant), one bin aggregate.
    */
  def pairDistanceHistogram(emb: DataFrame, vecCol: String, idCol: String,
      sampleN: Int = 100): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(emb.sparkSession)
    val sample = Caches.persist(emb
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .orderBy(md5(concat_ws(":", lit("pd"), col("id").cast("string"))))
      .limit(sampleN))
    val pairs = sample.as("a").join(sample.as("b"),
        col("a.id") < col("b.id"))
      .select(call_function("graft_cosine", col("a.v"), col("b.v"))
        .as("cos"))
    val binned = pairs
      .select(floor(col("cos") * 10).cast("long").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n_pairs"))
    val tot = binned.agg(sum("n_pairs").as("__t"))
    binned.crossJoin(broadcast(tot))
      .select(col("bin"), round(col("bin") / 10d, 1).as("cos_lo"),
        col("n_pairs"),
        round(col("n_pairs").cast("double") / col("__t"), 6).as("share"))
  }

  /** Matryoshka (MRL) truncation audit — recall@k of the
    * first-`prefixDims` embedding prefix against the full-vector
    * ground truth: the go/no-go measurement before serving truncated
    * embeddings (matryoshka-trained models hold recall near 1 at 4×
    * truncation; a model NOT trained that way degrades sharply, and
    * this report is how you find out). Emits per query:
    * `(query_id, n_truth, n_hits, recall)`.
    *
    * Scale shape: two [[bruteForceKnn]] passes (queries broadcast,
    * corpus scanned; the prefix pass folds over `prefixDims` of the
    * vector — proportionally cheaper) and one query-grain join.
    */
  def matryoshkaRecallReport(corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int, prefixDims: Int): DataFrame = {
    val truth = bruteForceKnn(corpus, queries, vecCol, idCol, k)
      .select(col("query_id"), col("neighbor_id"))
    def trunc(df: DataFrame) =
      df.withColumn(vecCol, slice(col(vecCol), 1, prefixDims))
    val approx = bruteForceKnn(trunc(corpus), trunc(queries), vecCol,
      idCol, k)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
    truth.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_truth"), count(col("__hit")).as("n_hits"))
      .select(col("query_id"), col("n_truth"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_truth"), 6)
          .as("recall"))
  }

  /** Greedy k-center (farthest-point) coreset selection — Gonzalez'
    * 2-approximation to the k-center cover, the classic diverse-subset
    * rule for data pruning / active-learning seed sets: start from a
    * deterministic seed (lowest md5), then `k−1` times add the point
    * FARTHEST (max cosine distance) from its nearest already-selected
    * center. Emits the selection order: `(rank, idCol, dist)` where
    * `dist` is the point's cosine distance to the previous selection
    * set (NULL for the seed) — monotonically non-increasing, and
    * dist(k+1) would lower-bound the cover radius.
    *
    * Scale shape: each round is ONE corpus pass — the selected
    * centers are a ≤k-row literal (driver metadata, the k-means
    * centroid pattern), the per-point nearest-center score is a
    * map-side fold, and the argmax is a combinable min(struct) — so
    * cost is k scans total, no corpus shuffle in any round. Ordered
    * folds keep every float cross-engine exact.
    */
  def kCenterSelect(df: DataFrame, vecCol: String, idCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val e = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val seed = e
      .withColumn("__pri", md5(concat(lit("kc:"), col("id").cast("string"))))
      .orderBy(col("__pri"), col("id")).limit(1)
      .select("id", "v").as[(Long, Seq[Double])].head()
    def norm(c: Seq[Double]): Double =
      math.sqrt(c.foldLeft(0d)((a, x) => a + x * x))
    var selected = Vector((seed._1, seed._2, norm(seed._2)))
    val picks = scala.collection.mutable.ArrayBuffer[(Int, Long, Option[Double])](
      (1, seed._1, None))
    val nv = sqrt(aggregate(col("v"), lit(0d), (a, x) => a + x * x))
    for (r <- 2 to k) {
      // max cosine to the current centers; zero-norm guards on both sides
      val cosCols = selected.map { case (_, c, nc) =>
        val dot = aggregate(zip_with(col("v"), lit(c.toArray), (x, y) => x * y),
          lit(0d), (a, x) => a + x)
        when(nv > 0 && lit(nc) > 0, dot / (nv * lit(nc))).otherwise(lit(0d))
      }
      val mc = if (cosCols.size == 1) cosCols.head else greatest(cosCols: _*)
      val pick = e.where(!col("id").isInCollection(selected.map(_._1)))
        .agg(min(struct(mc.as("mc"), col("id"), col("v"))).as("p"))
        .select(col("p.id"), col("p.v"), col("p.mc"))
        .as[(Long, Seq[Double], Double)].head()
      selected = selected :+ ((pick._1, pick._2, norm(pick._2)))
      picks += ((r, pick._1, Some(1d - pick._3)))
    }
    // round inside the engine so half-way cases match the SQL oracle's
    // round() semantics, not scala.math.rint's half-to-even
    picks.toSeq.toDF("rank", idCol, "dist")
      .select(col("rank"), col(idCol), round(col("dist"), 6).as("dist"))
  }

  /** PQ codebook distortion report — the quantization-quality audit
    * FAISS users read before trusting an ADC scan: per subspace, the
    * mean squared L2 between each corpus subvector and its NEAREST
    * codebook centroid (exactly the error the encoder commits).
    * Rising per-subspace MSE means the codebook under-fits that slice
    * of the embedding — retrain with larger ksub or re-balance the
    * subspace split. Emits `(subspace, n_vectors, mse)`.
    *
    * Scale shape: codebooks are driver metadata ([[pqCodebooks]] —
    * sample-trained, passes independent of corpus size); the audit
    * itself is ONE map-side pass (per-row nearest-centroid distance
    * against m·ksub literals) plus an m-row combinable aggregate.
    */
  def pqDistortionReport(df: DataFrame, vecCol: String, idCol: String,
      m: Int, ksub: Int, iters: Int = 2, dims: Int = -1): DataFrame = {
    val cbs = pqCodebooks(df, vecCol, idCol, m, ksub, iters, dims)
    val dsub = cbs.head.head.length
    val sub = df.select(col(vecCol).cast("array<double>").as("_vd"))
      .select((0 until m).map(j =>
        slice(col("_vd"), j * dsub + 1, dsub).as(s"_s$j")): _*)
    sub.select(explode(array((0 until m).map(j =>
        struct(lit(j).as("j"),
          array_min(subCodeDists(col(s"_s$j"), cbs(j)))
            .getField("d").as("d"))): _*)).as("e"))
      .select(col("e.j").as("subspace"), col("e.d").as("d"))
      .groupBy("subspace")
      .agg(count(lit(1)).as("n_vectors"), round(avg("d"), 6).as("mse"))
  }

  /** Pairwise cosine similarity between per-group embedding CENTROIDS —
    * "how semantically close are these sources/classes to each other":
    * the inter-group companion of [[centroidOutliers]]' intra-group
    * distance, and the embedding-space analog of
    * [[TextAnalysis.sourceJsDivergence]]'s lexical matrix (near-1
    * pairs are candidates for merging; near-0 pairs, for contrastive
    * mixing). Emits one row per unordered pair (group_a < group_b):
    * `(group_a, group_b, cosine)`.
    *
    * Scale shape: the corpus is touched ONCE by the per-(group, dim)
    * combinable avg; everything after operates on the groups-sized
    * centroid table (metadata), self-joined all-pairs — |groups|² is
    * a report, not a data product. The cosine kernel is an ORDERED
    * fold over the dim-sorted centroid arrays, so the float sum order
    * is identical in any engine.
    */
  def centroidSimilarity(emb: DataFrame, vecCol: String,
      groupCol: String): DataFrame = {
    val e = emb.select(col(groupCol).as("g"),
      col(vecCol).cast("array<double>").as("v"))
    val cents = e.select(col("g"), posexplode(col("v")))
      .groupBy("g", "pos").agg(avg("col").as("m"))
      .groupBy("g")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("c"))
    val a = cents.as("a"); val b = cents.as("b")
    val dot = aggregate(zip_with(col("a.c"), col("b.c"), (x, y) => x * y),
      lit(0d), (acc, x) => acc + x)
    val na = sqrt(aggregate(col("a.c"), lit(0d), (acc, x) => acc + x * x))
    val nb = sqrt(aggregate(col("b.c"), lit(0d), (acc, x) => acc + x * x))
    a.join(b, col("a.g") < col("b.g"))
      .select(col("a.g").as("group_a"), col("b.g").as("group_b"),
        when(na * nb > 0, round(dot / (na * nb), 6)).otherwise(lit(0d))
          .as("cosine"))
  }

  /** Embedding covariance matrix — the d×d statistic behind whitening,
    * PCA energy audits, and drift detection between corpus snapshots.
    * Returns one row per (i, j) cell: `(i, j, cov)` with
    * cov(i,j) = E[v_i·v_j] − E[v_i]·E[v_j] (population covariance,
    * single pass).
    *
    * Scale shape: ONE corpus pass — posexplode by row index i (d×
    * in-memory fan-out, never shuffled raw), then a d-group hash
    * aggregate whose buffers carry (n, Σv_i, Σv_i·v_j for all j) —
    * partial map-side combine means the shuffle moves
    * O(d² · partitions) doubles, independent of corpus size. The
    * per-dimension means are a d-row frame joined back broadcast.
    * d is bounded (embedding width), so the d² output is metadata.
    */
  def covarianceMatrix(emb: DataFrame, vecCol: String,
      dims: Int = 0): DataFrame = {
    val d = if (dims > 0) dims else inferDims(emb, vecCol)
    val v = emb.select(col(vecCol).cast("array<double>").as("v"))
    val exploded = v.select(posexplode(col("v")).as(Seq("i", "vi")), col("v"))
    val aggs = (0 until d).map(j => sum(col("vi") * col("v")(j)).as(s"s$j"))
    // d-row aggregate consumed by TWO branches (cells + means) —
    // persist it (caller's scope) or each branch re-runs the corpus pass
    val sums = Caches.persist(exploded.groupBy(col("i"))
      .agg(count(lit(1)).as("n"),
        (sum(col("vi")).as("si") +: aggs): _*))
    val perCell = sums.select(
      col("i"), col("n"), (col("si") / col("n")).as("mean_i"),
      posexplode(array((0 until d).map(j => col(s"s$j")): _*)).as(Seq("j", "sij")))
    val means = sums.select(col("i").as("j"), (col("si") / col("n")).as("mean_j"))
    perCell.join(broadcast(means), Seq("j"))
      .select(col("i"), col("j"),
        // +0.0 collapses IEEE −0.0 (a tiny negative covariance rounded
        // to zero keeps its sign bit) to +0.0, matching the oracle
        (round(col("sij") / col("n") - col("mean_i") * col("mean_j"), 6)
          + lit(0d)).as("cov"))
  }

  /** Maximal-marginal-relevance diverse top-k (Carbonell &
    * Goldstein 1998): greedily select `k` rows maximizing
    * λ·cos(query, v) − (1−λ)·max cos(v, selected) — the diversity-
    * aware re-rank a retrieval pipeline applies after ANN so the
    * context window isn't k near-copies of the same document. The
    * first pick is the most relevant row (empty-set diversity term
    * = 0). Returns `(rank, idCol, relevance, mmr)` — `mmr` is the
    * score the row was selected AT, rounded after selection.
    *
    * Scale shape: relevance is a map-only broadcast-query cosine scan;
    * the candidate pool is the TOP-`poolSize` rows (rank window under
    * a `row_number <= poolSize` filter → map-side WindowGroupLimit),
    * so the driver-side greedy loop touches a bounded poolSize×d
    * matrix — metadata, same class as a k-means centroid collect. The
    * greedy recurrence is inherently sequential in k; pool truncation
    * is the standard production bound (MMR over an unbounded corpus is
    * quadratic no matter the engine). The pool collect is GUARDED:
    * poolSize×dims×8 bytes must stay under
    * `spark.graft.mmr.maxPoolBytes` (default 256 MB) or the call fails
    * fast with the bounded alternative named (chunked re-rank: run MMR
    * over the top-N of several relevance shards and merge), instead of
    * silently OOMing the driver.
    */
  def mmrSelect(emb: DataFrame, vecCol: String, idCol: String,
      queryId: Long, k: Int, poolSize: Int,
      lambda: Double): DataFrame = {
    val spark = emb.sparkSession
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val e = emb.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val q = broadcast(e.where(col("id") === queryId)
      .select(col("v").as("qv")))
    // driver-heap guard on the pool collect (see scaladoc)
    val maxPoolBytes = spark.conf
      .getOption("spark.graft.mmr.maxPoolBytes")
      .map(_.toLong).getOrElse(256L << 20)
    val dims = e.where(col("id") === queryId)
      .select(size(col("v"))).head().getInt(0)
    val estBytes = poolSize.toLong * dims * 8L
    require(estBytes <= maxPoolBytes,
      s"mmrSelect would collect ~$estBytes bytes (poolSize=$poolSize x " +
        s"dims=$dims x 8) of pool vectors onto the driver, above " +
        s"spark.graft.mmr.maxPoolBytes=$maxPoolBytes. Lower poolSize " +
        "(chunked re-rank: MMR over the top-N of several relevance " +
        "shards, then merge) or raise the cap.")
    val scored = e.where(col("id") =!= queryId).crossJoin(q)
      .withColumn("rel", call_function("graft_cosine", col("qv"), col("v")))
    val w = Window.orderBy(col("rel").desc, col("id").asc)
    val pool = scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= poolSize)
      .select("id", "rel", "v")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        r.getSeq[Double](2).toArray))
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0d; var na = 0d; var nb = 0d; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0d || nb == 0d) 0d else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val selected = scala.collection.mutable.ArrayBuffer[(Int, Long, Double, Double)]()
    val chosen = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    val remaining = scala.collection.mutable.LinkedHashMap(
      pool.map(p => p._1 -> p): _*)
    var rank = 1
    while (rank <= math.min(k, pool.length)) {
      // argmax (score desc, id asc); ids iterate in pool (rel) order
      var best: (Long, Double, Double) = null
      remaining.valuesIterator.foreach { case (id, rel, v) =>
        val div = if (chosen.isEmpty) 0d else chosen.map(c => cosine(v, c)).max
        val score = lambda * rel - (1 - lambda) * div
        if (best == null || score > best._3 || (score == best._3 && id < best._1))
          best = (id, rel, score)
      }
      selected += ((rank, best._1, best._2, best._3))
      chosen += remaining(best._1)._3
      remaining.remove(best._1)
      rank += 1
    }
    import spark.implicits._
    selected.toSeq.toDF("rank", "id", "rel", "mmr")
      .select(col("rank"), col("id").as(idCol),
        round(col("rel"), 6).as("relevance"), round(col("mmr"), 6).as("mmr"))
  }

  /** kNN label-consistency audit — the embedding-space mislabel
    * detector: predict each query vector's label by majority vote of
    * its `k` nearest neighbors (cosine, self excluded) and report
    * per-label agreement. A label whose consistency collapses is
    * either noisy or not separable in this embedding — either way not
    * a label to train a classifier head on. Emits one row per label:
    * `(label, n_queries, n_consistent, consistency)`. Vote ties break
    * on the lexicographically smaller label (deterministic).
    *
    * Scale shape: ranking reuses [[bruteForceKnn]] (broadcast query
    * set, corpus scanned once); the vote is a (query, label) count
    * agg + one per-query argmax window over ≤k rows — all downstream
    * of the top-k, so the expensive stage is the ANN scan, swappable
    * for [[lshKnn]]/[[ivfKnn]] at corpus scale.
    */
  def labelConsistency(emb: DataFrame, vecCol: String, idCol: String,
      labelCol: String, k: Int, queries: DataFrame = null): DataFrame = {
    val q = if (queries != null) queries else emb
    val labels = emb.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("__nl"))
    val votes = bruteForceKnn(emb, q, vecCol, idCol, k)
      .join(labels, Seq("neighbor_id"))
      .groupBy(col("query_id"), col("__nl"))
      .agg(count(lit(1)).as("__votes"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("__votes").desc, col("__nl").asc)
    val pred = votes.withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1)
      .select(col("query_id"), col("__nl").as("pred_label"))
    q.select(col(idCol).as("query_id"), col(labelCol).as("label"))
      .join(pred, Seq("query_id"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_queries"),
        count(when(col("pred_label") === col("label"), lit(1)))
          .as("n_consistent"))
      .withColumn("consistency",
        round(col("n_consistent") / col("n_queries"), 6))
  }

  /** Per-dimension z-score standardization of an embedding column —
    * the whitening-lite preprocessing ANN stacks and outlier detectors
    * apply when dimensions carry wildly different scales: z_i =
    * (v_i − μ_i)/σ_i (population σ; σ_i = 0 ⇒ 0). Returns
    * `(idCol, <outCol> array<double>)`.
    *
    * Scale shape: two corpus passes by necessity (moments, then the
    * transform — a streaming pipeline would snapshot the moments).
    * Pass 1 is a narrow posexplode + per-dimension combinable agg; the
    * d-row stats collapse into ONE row of two arrays crossed in
    * broadcast, so pass 2 is a pure map inside whole-stage codegen —
    * zero shuffle.
    */
  def standardizeEmbeddings(emb: DataFrame, vecCol: String, idCol: String,
      outCol: String = "z"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val stats = emb.select(posexplode(v).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(avg("x").as("mu"), stddev_pop(col("x")).as("sd"))
      .groupBy()
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("mu")))),
          s => s.getField("mu")).as("__mu"),
        transform(array_sort(collect_list(struct(col("pos"), col("sd")))),
          s => s.getField("sd")).as("__sd"))
    emb.crossJoin(broadcast(stats))
      .select(col(idCol),
        zip_with(
          zip_with(v, col("__mu"), (x, m) => x - m),
          col("__sd"),
          (d, s) => when(s > 0, d / s).otherwise(lit(0d))).as(outCol))
  }

  /** Embedding-column quality audit — the vector analogue of the
    * [[graft.operators.Expectations]] checks, run per group before any
    * similarity stage trusts the column: NaN contamination, zero-norm
    * (cosine-undefined) vectors, wrong-width vectors, and the norm
    * envelope. Emits one row per group: `(groupCol, n_vecs, n_nan,
    * n_zero_norm, n_bad_dim, min_norm, max_norm, avg_norm)`.
    *
    * Scale shape: ONE combinable aggregation; the per-row kernels
    * (`exists`, squared-sum `aggregate`) are row-local codegen'd
    * higher-order functions — no explode, no shuffle beyond the
    * |groups|-row agg.
    */
  def embeddingAudit(emb: DataFrame, vecCol: String, groupCol: String,
      dims: Int): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val norm = sqrt(aggregate(v, lit(0d), (acc, x) => acc + x * x))
    val hasNan = exists(v, x => isnan(x))
    emb.select(col(groupCol), norm.as("__norm"), hasNan.as("__nan"),
        (size(col(vecCol)) =!= dims).as("__bad"))
      .groupBy(groupCol)
      .agg(
        count(lit(1)).as("n_vecs"),
        count(when(col("__nan"), lit(1))).as("n_nan"),
        count(when(!col("__nan") && col("__norm") === 0d, lit(1)))
          .as("n_zero_norm"),
        count(when(col("__bad"), lit(1))).as("n_bad_dim"),
        // norm envelope over CLEAN vectors only — one NaN would
        // otherwise poison min/max/avg for the whole group
        round(min(when(!col("__nan"), col("__norm"))), 6).as("min_norm"),
        round(max(when(!col("__nan"), col("__norm"))), 6).as("max_norm"),
        round(avg(when(!col("__nan"), col("__norm"))), 6).as("avg_norm"))
  }

  /** Hubness audit of the embedding space (Radovanović et al.): over a
    * deterministic md5-lowest query sample, build the exact kNN graph
    * and histogram the neighbor IN-degrees — a high-dimensional space
    * gone wrong concentrates retrieval onto a few "hub" points (huge
    * in-degree) while most points become anti-hubs (in-degree 0,
    * reported as the `in_degree = 0` row over the whole corpus). The
    * skew of this histogram is the standard "is cosine retrieval
    * degenerating" diagnostic. Emits `(in_degree, n_points)`.
    *
    * Scale shape: the query sample is a TakeOrdered of `sampleSize`
    * rows broadcast into [[bruteForceKnn]]'s scan-shaped pass (one
    * corpus sweep, map-side WindowGroupLimit top-k); the in-degree
    * histogram is two tiny aggregates. Sampling makes the audit
    * corpus-pass-bounded — the estimate converges fast because hubs
    * are by definition hit by many queries.
    */
  def hubnessReport(emb: DataFrame, vecCol: String, idCol: String,
      k: Int = 5, sampleSize: Int = 100): DataFrame = {
    val queries = emb
      .orderBy(md5(concat(lit("hub:"), col(idCol).cast("string"))),
        col(idCol).asc)
      .limit(sampleSize)
    val knn = bruteForceKnn(emb, queries, vecCol, idCol, k)
    val indeg = knn.groupBy(col("neighbor_id"))
      .agg(count(lit(1)).as("in_degree"))
    val hist = indeg.groupBy("in_degree")
      .agg(count(lit(1)).as("n_points"))
    val total = emb.agg(count(lit(1)).as("__n"))
    val touched = indeg.agg(count(lit(1)).as("__t"))
    val antihubs = total.crossJoin(broadcast(touched))
      .select(lit(0L).as("in_degree"),
        (col("__n") - col("__t")).as("n_points"))
    hist.unionAll(antihubs)
  }

  /** Centroid-based silhouette per k-means list — the clustering
    * quality score behind "is nLists right for this corpus": with unit
    * centroids, a vector's cosine to its own centroid (c₁) and to the
    * best other centroid (c₂) give the simplified silhouette
    *   s = ((1−c₂) − (1−c₁)) / (1−c₂) = (c₁−c₂)/(1−c₂)
    * (the full silhouette's pairwise a(i) replaced by the own-centroid
    * distance — the standard O(n·k) surrogate; the exact form is
    * O(n²/k)). Emits `(list, n_vecs, mean_sil)` — mean_sil near 1 =
    * tight separated clusters, near 0 = overlapping.
    *
    * Scale shape: training is [[kmeansCentroids]]'s bounded sample;
    * scoring is ONE map-only corpus pass (centroids travel as a single
    * literal, the top-2 scores come from an in-row array_sort over
    * nLists entries) plus one combinable per-list aggregate.
    */
  def silhouetteReport(corpus: DataFrame, vecCol: String, idCol: String,
      nLists: Int, iters: Int = 2, dims: Int = -1): DataFrame = {
    val cents = kmeansCentroids(corpus, vecCol, idCol, nLists, iters, dims)
    val vd = col("_vd")
    val sorted = array_sort(centroidScores(vd, cents), (a, b) =>
      when(a.getField("s") > b.getField("s"), -1)
        .when(a.getField("s") < b.getField("s"), 1)
        .otherwise(a.getField("list") - b.getField("list")))
    val scored = corpus
      .select(col(vecCol).cast("array<double>").as("_vd"))
      .select(sorted.as("_sc"),
        sqrt(aggregate(vd, lit(0d), (acc, x) => acc + x * x)).as("_n"))
      .select(
        element_at(col("_sc"), 1).getField("list").as("list"),
        when(col("_n") > 0,
          element_at(col("_sc"), 1).getField("s") / col("_n"))
          .otherwise(lit(0d)).as("_c1"),
        when(col("_n") > 0,
          element_at(col("_sc"), 2).getField("s") / col("_n"))
          .otherwise(lit(0d)).as("_c2"))
    scored
      .withColumn("_s",
        when(lit(1d) - col("_c2") > 0,
          (col("_c1") - col("_c2")) / (lit(1d) - col("_c2")))
          .otherwise(lit(0d)))
      .groupBy("list")
      .agg(count(lit(1)).as("n_vecs"), round(avg("_s"), 4).as("mean_sil"))
  }

  /** Round half away from zero at 12 dp — the quantization applied to
    * the power-iteration vector after every step so the driver-side
    * fold and a SQL replay (whose 64-term sums may differ in the last
    * ulp by association order) stay on the identical grid. Matches
    * `round(x, 12)` in both engines (floor(|x|·1e12 + 0.5) — the same
    * double ops in the same order).
    */
  private def round12(x: Double): Double =
    if (x >= 0) math.floor(x * 1e12 + 0.5) / 1e12
    else -math.floor(-x * 1e12 + 0.5) / 1e12

  /** Top principal component of the embedding covariance by power
    * iteration: `iters` fixed rounds of v ← round₁₂(Mv / ‖Mv‖) from
    * the uniform start v₀ = round₁₂(1/√d), sign-normalized so the
    * first |loading| > 1e-6 entry is positive. Returns the loadings,
    * the Rayleigh eigenvalue and the explained variance share —
    * driver-side values for composition ([[pcaProject]] is the
    * DataFrame surface).
    *
    * Scale shape: the corpus is touched ONCE (the single-pass
    * [[covarianceMatrix]] aggregate); iteration runs on the collected
    * d×d matrix — metadata scale, the same class as the k-means
    * centroid collect, and independent of both corpus size and
    * iteration count. The 6dp-rounded covariance cells are the
    * engine-neutral starting point; per-step 12dp quantization keeps a
    * SQL replay of the recurrence bit-identical.
    */
  def pcaTopComponent(emb: DataFrame, vecCol: String,
      iters: Int = 8): (Array[Double], Double, Double) = {
    val d = inferDims(emb, vecCol)
    val m = Array.ofDim[Double](d, d)
    covarianceMatrix(emb, vecCol, d).collect()
      .foreach(r => m(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    var v = Array.fill(d)(round12(1d / math.sqrt(d.toDouble)))
    def matvec(x: Array[Double]): Array[Double] =
      Array.tabulate(d)(i => (0 until d).map(j => m(i)(j) * x(j)).sum)
    // zero-variance guard (constant corpus ⇒ all-zero covariance ⇒
    // ||Mv|| = 0): keep the current v instead of dividing by zero and
    // report explained_share 0 — mirroring the zero-variance fallbacks
    // in saxMotifs / cuped, so NaN never reaches pcaProject's columns
    var converged = true
    for (_ <- 1 to iters if converged) {
      val w = matvec(v)
      val norm = math.sqrt(w.map(x => x * x).sum)
      if (norm == 0d) converged = false
      else v = w.map(x => round12(x / norm))
    }
    val flip = v.find(x => math.abs(x) > 1e-6).exists(_ < 0)
    if (flip) v = v.map(x => -x)
    val w = matvec(v)
    val lambda = (0 until d).map(i => v(i) * w(i)).sum
    val trace = (0 until d).map(i => m(i)(i)).sum
    (v, lambda, if (trace > 0) lambda / trace else 0d)
  }

  /** PC1 projection summary per label — the "how does the corpus
    * spread along its main axis" audit (a 1-D PCA drift/separation
    * view): every embedding is projected onto [[pcaTopComponent]]'s
    * loadings and summarized per `labelCol`. Output:
    * `(labelCol, n_vecs, mean_pc1, min_pc1, max_pc1,
    * explained_share)`.
    *
    * Scale shape: one covariance pass + a map-only projection scan
    * (loadings travel as a literal; the dot product is the in-order
    * zip_with/aggregate fold both engines evaluate sequentially) and
    * one combinable per-label aggregate. min/max are order-exact;
    * the mean is rounded (4dp) like every float sum crossing the
    * oracle boundary.
    */
  def pcaProject(emb: DataFrame, vecCol: String, labelCol: String,
      iters: Int = 8): DataFrame = {
    val (v, _, explained) = pcaTopComponent(emb, vecCol, iters)
    val dot = aggregate(
      zip_with(typedLit(v.toSeq), col(vecCol).cast("array<double>"),
        (a, b) => a * b),
      lit(0d), (acc, x) => acc + x)
    emb.select(col(labelCol), dot.as("__p"))
      .groupBy(col(labelCol))
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("__p")), 4).as("mean_pc1"),
        round(min(col("__p")), 6).as("min_pc1"),
        round(max(col("__p")), 6).as("max_pc1"))
      .withColumn("explained_share",
        lit(math.floor(explained * 1e6 + 0.5) / 1e6))
  }

  /** TwoNN intrinsic-dimension estimate (Facco et al. 2017) — how many
    * degrees of freedom the embeddings actually use, independent of
    * the ambient width: for md5-sampled probes, μ = d₂/d₁ (ratio of
    * 2nd- to 1st-NN distance) follows Pareto(ID), so the MLE is
    * ID = m' / Σ ln μ. The audit that tells you whether a 64-wide
    * embedding really spans 64 dimensions (matryoshka truncation,
    * q262, wants this before cutting).
    *
    * Determinism: probes by md5 order; per-probe NN ranks break ties
    * on (quantized distance, id) through a `row_number ≤ 2` window
    * (map-side WindowGroupLimit); distances quantize to the 1e-9 grid
    * BEFORE ranking, each ln μ (of a 1e-6-gridded ratio — the PMI
    * pattern) quantizes to 1e-9 integers before the m-term sum.
    * Duplicate-point probes (d₁ = 0) are excluded from the MLE.
    * Output one row: `m_probes, n_used, id_mle` (1e-4 floor grid).
    */
  def twoNnIntrinsicDim(emb: DataFrame, vecCol: String, idCol: String,
      m: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(m >= 2, "m must be >= 2")
    val d = emb.select(size(col(vecCol))).head().getInt(0)
    val pts = Caches.persist(emb.select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__v"))
      .filter(size(col("__v")) === d && !exists(col("__v"), x => isnan(x))))
    val probes = pts
      .orderBy(md5Long(concat(lit("twonn:"), col("__id"))), col("__id"))
      .limit(m)
      .select(col("__id").as("__pid"), col("__v").as("__pv"))
    def d2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0d), (acc, z) => acc + z)
    val w = Window.partitionBy("__pid")
      .orderBy(col("__d9").asc, col("__id").asc)
    val ranked = pts.crossJoin(broadcast(probes))
      .filter(col("__id") =!= col("__pid"))
      .select(col("__pid"), col("__id"),
        floor(d2(col("__pv"), col("__v")) * 1e9 + 0.5).cast("long")
          .as("__d9"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= 2)
    val mu = ranked.groupBy("__pid")
      .agg(min(when(col("__rn") === 1, col("__d9"))).as("__d1"),
        min(when(col("__rn") === 2, col("__d9"))).as("__d2"))
      .filter(col("__d1") > 0 && col("__d2").isNotNull)
      // ln of the 1e-6-gridded ratio, quantized to 1e-9 integers so
      // the probe sum is order-free
      .select(floor(log(
          floor(col("__d2").cast("double") / col("__d1") * 1e6 + 0.5)
            / 1e6) * 1e9 + 0.5).cast("long").as("__lnmu9"))
    // distances stayed SQUARED (ln μ² = 2·ln μ), so the Pareto MLE
    // carries a factor 2: ID = 2·m' / Σ ln μ²
    mu.agg(count(lit(1)).as("n_used"), sum("__lnmu9").as("__s9"))
      .select(lit(m.toLong).as("m_probes"), col("n_used"),
        when(col("__s9") > 0,
          floor(col("n_used").cast("double") * 2d
            / (col("__s9").cast("double") / 1e9) * 1e4 + 0.5) / 1e4)
          .as("id_mle"))
  }

  /** Label separability audit over the embedding space — Fisher's
    * criterion per class: how far each label's centroid sits from the
    * global centroid relative to the pooled within-class scatter
    * (trace form, the multi-class generalization of the two-class
    * Fisher discriminant). The pre-training answer to "do these labels
    * carve the embedding space at all?" — a near-zero Fisher ratio
    * means a probe classifier has nothing to find.
    *
    * Determinism: every coordinate quantizes to a 1e-7 integer grid
    * BEFORE any sum (float32 inputs are exact on it after the 0.5-ulp
    * round both engines share), so all moments are exact integers
    * (squares in decimal(38,0)/HUGEINT); the per-(class, dim) scatter
    * terms re-grid to 1e-9 integers before the dim/class rollups.
    * Output per label: `label, n_vecs, within_var, centroid_d2` plus
    * the global `fisher_ratio` = ΣB/ΣW repeated per row (1e-6 grids).
    */
  def classSeparability(emb: DataFrame, vecCol: String,
      labelCol: String): DataFrame = {
    val d = emb.select(size(col(vecCol))).head().getInt(0)
    val cells = emb
      .filter(size(col(vecCol).cast("array<double>")) === d &&
        !exists(col(vecCol).cast("array<double>"), x => isnan(x)))
      .select(col(labelCol).as("__l"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("__p", "__x")))
      .select(col("__l"), col("__p"),
        when(col("__x") >= 0, floor(col("__x") * 1e7 + 0.5))
          .otherwise(-floor(-col("__x") * 1e7 + 0.5)).cast("long")
          .as("__x7"))
    val perLD = Caches.persist(cells.groupBy("__l", "__p")
      .agg(count(lit(1)).as("__n"), sum("__x7").as("__s"),
        sum(col("__x7").cast("decimal(38,0)") * col("__x7")).as("__q")))
    // NOT "__N"/"__S": Spark resolution is case-INSENSITIVE and the
    // join would make them ambiguous with perLD's __n/__s (r7 footgun)
    val perD = perLD.groupBy("__p")
      .agg(sum("__n").as("__tn"), sum("__s").as("__ts"))
    // per-(class, dim): within-scatter (Σx² − (Σx)²/n) and
    // between-term n·(μ_c − μ)², each re-gridded to 1e-9 integers so
    // the rollups are order-free
    val terms = perLD.join(perD, Seq("__p"))
      .select(col("__l"), col("__n"),
        floor((col("__q").cast("double")
          - col("__s").cast("double") * col("__s") / col("__n")) / 1e14
          * 1e9 + 0.5).cast("long").as("__w9"),
        floor(col("__n") * (col("__s").cast("double") / col("__n") / 1e7
            - col("__ts").cast("double") / col("__tn") / 1e7)
          * (col("__s").cast("double") / col("__n") / 1e7
            - col("__ts").cast("double") / col("__tn") / 1e7)
          * 1e9 + 0.5).cast("long").as("__b9"))
    val perClass = Caches.persist(terms.groupBy("__l")
      .agg((max("__n")).as("n_vecs"), sum("__w9").as("__w9s"),
        sum("__b9").as("__b9s")))
    val tot = perClass.agg(sum("__w9s").as("__W"), sum("__b9s").as("__B"))
    def g6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
    perClass.crossJoin(tot)
      .select(col("__l").as(labelCol), col("n_vecs"),
        g6(col("__w9s").cast("double") / 1e9 / col("n_vecs"))
          .as("within_var"),
        g6(col("__b9s").cast("double") / 1e9 / col("n_vecs"))
          .as("centroid_d2"),
        when(col("__W") > 0,
          g6(col("__B").cast("double") / col("__W"))).as("fisher_ratio"))
      .orderBy(labelCol)
  }

  /** Hopkins statistic — the standard clusterability audit run BEFORE
    * spending a clustering/SemDeDup pass: H = Σu / (Σu + Σw), where u
    * are nearest-real-neighbor distances of `m` synthetic
    * uniform-in-bounding-box probes and w are nearest-OTHER-neighbor
    * distances of `m` md5-selected real probes. H ≈ 0.5 ⇒ the
    * embeddings look uniform (clustering would manufacture structure);
    * H → 1 ⇒ genuinely clustered.
    *
    * Determinism: probe selection and the synthetic coordinates derive
    * from md5 (uniform fractions on the 2⁻⁴⁰ grid inside per-dimension
    * [min, max] bounds), squared-L2 distances are the row-local
    * sequential fold both engines share, each probe's NN distance
    * quantizes to a 1e-9 integer grid BEFORE the m-term sums (min is
    * order-free; integer sums make the two Σ exact), and H lands on
    * the 1e-6 floor grid. Output one row:
    * `m, n_vecs, sum_u9, sum_w9, hopkins`.
    *
    * Scale shape: the 2m probes broadcast; the corpus is scanned once
    * per probe side (O(m·n) distance evaluations, map-side aggregated
    * to per-probe minima). The d-row bounds aggregate collects to the
    * driver (d is the embedding width, bounded).
    */
  def hopkinsStatistic(emb: DataFrame, vecCol: String, idCol: String,
      m: Int = 20): DataFrame = {
    require(m >= 1, "m must be >= 1")
    val spark = emb.sparkSession
    // clean corpus: full-width vectors, no NaN (the q142 audit's gate)
    val d = emb.select(size(col(vecCol))).head().getInt(0)
    val pts = Caches.persist(emb.select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__v"))
      .filter(size(col("__v")) === d &&
        !exists(col("__v"), x => isnan(x))))
    // per-dimension bounds (d rows → driver → literals)
    val bounds = pts.select(posexplode(col("__v")).as(Seq("__p", "__x")))
      .groupBy("__p").agg(min("__x").as("mn"), max("__x").as("mx"))
      .orderBy("__p").collect()
    val mn = bounds.map(_.getDouble(1))
    val mx = bounds.map(_.getDouble(2))
    // m real probes by md5 order
    val real = pts
      .orderBy(md5Long(concat(lit("hop:"), col("__id"))), col("__id"))
      .limit(m)
      .select(col("__id").as("__pid"), col("__v").as("__pv"))
    // m synthetic probes: uniform md5 fractions inside the bounds
    val frac = (i: Column, j: Column) =>
      (md5Long(concat(lit("hopsyn:"), i, lit(":"), j)) % 1099511627776L)
        .cast("double") / lit(1099511627776d)
    val synth = spark.range(1, m + 1).select(col("id").as("__pid"),
      transform(sequence(lit(0), lit(d - 1)), j =>
        element_at(typedLit(mn.toSeq), j + 1) +
          frac(col("id"), j) *
          (element_at(typedLit(mx.toSeq), j + 1)
            - element_at(typedLit(mn.toSeq), j + 1))).as("__pv"))
    def d2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0d), (acc, z) => acc + z)
    def nnSum(probes: DataFrame, excludeSelf: Boolean): DataFrame = {
      val joined = pts.crossJoin(broadcast(probes))
      val filtered =
        if (excludeSelf) joined.filter(col("__id") =!= col("__pid"))
        else joined
      filtered
        .select(col("__pid"), d2(col("__pv"), col("__v")).as("__d2"))
        .groupBy("__pid").agg(min("__d2").as("__nn"))
        .agg(sum(floor(col("__nn") * 1e9 + 0.5).cast("long")).as("s9"),
          count(lit(1)).as("np"))
    }
    val u = nnSum(synth, excludeSelf = false).select(col("s9").as("sum_u9"))
    val w = nnSum(real, excludeSelf = true).select(col("s9").as("sum_w9"))
    val n = pts.agg(count(lit(1)).as("n_vecs"))
    u.crossJoin(w).crossJoin(n)
      .select(lit(m.toLong).as("m"), col("n_vecs"),
        col("sum_u9"), col("sum_w9"),
        when(col("sum_u9") + col("sum_w9") > 0,
          floor(col("sum_u9").cast("double")
            / (col("sum_u9") + col("sum_w9")) * 1e6 + 0.5) / 1e6)
          .as("hopkins"))
  }

  /** Lloyd's k-means over the embedding space — the missing EXPLICIT
    * clustering operator behind the quantizer internals (q105's
    * SemDeDup and the IVF/PQ indexes train centroids as a means to an
    * end; this IS the end): deterministic md5-seeded init, a fixed
    * number of unrolled assignment→update rounds, then a final
    * assignment report. Per cluster:
    * `cluster, n_points, inertia` (inertia = Σ assigned squared
    * distance, 1e-6 grid).
    *
    * Determinism: distances fold per-dimension in array order and
    * quantize to the 1e-9 grid before the argmin (ties to the lower
    * cluster id); centroid updates sum 1e-7-grid coordinate INTEGERS
    * (order-free) and divide once, so every round's centroids are
    * bit-identical doubles in any engine.
    *
    * Scale shape: per round one corpus × k broadcast crossJoin with a
    * per-point argmin (no shuffle beyond the posexplode update agg,
    * which is map-side combined on (cluster, dim)). k and rounds are
    * compile-time constants.
    */
  def kMeans(emb: DataFrame, vecCol: String, idCol: String, k: Int = 4,
      rounds: Int = 3): DataFrame = {
    require(k >= 2 && rounds >= 1, "need k >= 2 and rounds >= 1")
    val d = emb.select(size(col(vecCol))).head().getInt(0)
    val pts = Caches.persist(emb.select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__v"))
      .filter(size(col("__v")) === d && !exists(col("__v"), x => isnan(x)))
      .withColumn("__v7", transform(col("__v"), x =>
        when(x >= 0, floor(x * 1e7 + 0.5))
          .otherwise(-floor(-x * 1e7 + 0.5)).cast("long"))))
    def d2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0d), (acc, z) => acc + z)
    // top-k by hash = TakeOrderedAndProject (no global single-partition
    // window sort of the corpus); the k-row window after the limit only
    // numbers k rows
    val wInit = Window.orderBy(col("__h"), col("__id"))
    var centroids = pts
      .withColumn("__h", md5Long(concat(lit("km:"), col("__id"))))
      .orderBy(col("__h"), col("__id")).limit(k)
      .withColumn("__rn", row_number().over(wInit))
      .select((col("__rn") - 1).cast("long").as("__c"),
        col("__v").as("__cv"))
      .localCheckpoint(true)
    // Argmin over the k centroids as a fold over a ONE-ROW broadcast
    // array (ascending __c, strict < ⇒ ties keep the lowest id — the
    // same verdict the old per-point row_number window reached), so the
    // assignment is pure map-side codegen: the previous plan shuffled
    // corpus × k rows (each carrying the 64-long __v7 payload) through
    // an Exchange+Sort per round just to rank k candidates.
    def assign(cents: DataFrame): DataFrame = {
      val centArr = cents.agg(
        sort_array(collect_list(struct(col("__c"), col("__cv")))).as("__cs"))
      pts.crossJoin(broadcast(centArr))
        .select(col("__id"), col("__v7"),
          aggregate(col("__cs"),
            struct(lit(Long.MaxValue).as("__d9"), lit(-1L).as("__c")),
            (acc, s) => {
              val d9 = floor(d2(col("__v"), s.getField("__cv")) * 1e9 + 0.5)
                .cast("long")
              when(d9 < acc.getField("__d9"),
                struct(d9.as("__d9"), s.getField("__c").as("__c")))
                .otherwise(acc)
            }).as("__best"))
        .select(col("__id"), col("__v7"),
          col("__best").getField("__c").as("__c"),
          col("__best").getField("__d9").as("__d9"))
    }
    for (_ <- 1 to rounds) {
      val assigned = assign(centroids)
      val updated = assigned
        .select(col("__c"), posexplode(col("__v7")).as(Seq("__dim", "__x7")))
        .groupBy("__c", "__dim")
        .agg(sum("__x7").as("__sx"), count(lit(1)).as("__nx"))
        .select(col("__c"), col("__dim"),
          (col("__sx").cast("double") / col("__nx") / 1e7).as("__cx"))
        .groupBy("__c")
        .agg(transform(
          sort_array(collect_list(struct(col("__dim"), col("__cx")))),
          s => s.getField("__cx")).as("__cvNew"))
      val prev = centroids
      // empty clusters keep their previous centroid
      centroids = prev
        .join(updated, Seq("__c"), "left")
        .select(col("__c"), coalesce(col("__cvNew"), col("__cv"))
          .as("__cv"))
        .localCheckpoint(true)
      Caches.unpersistCheckpoint(prev)
    }
    val fin = assign(centroids)
    def g6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
    fin.groupBy(col("__c").as("cluster"))
      .agg(count(lit(1)).as("n_points"), sum("__d9").as("__i9"))
      .select(col("cluster"), col("n_points"),
        g6(col("__i9").cast("double") / 1e9).as("inertia"))
      .orderBy("cluster")
  }

  /** Leave-one-out kNN label check for a deterministic md5 probe
    * panel — the zero-training "are the labels learnable from the
    * geometry?" probe (the instance-level companion of q358's Fisher
    * ratio: separability says the CLASSES are apart; this says each
    * POINT's neighborhood already votes its label). Each probe's k
    * nearest OTHER points majority-vote (ties toward the smaller
    * label). Output per probe:
    * `probe_id, true_label, predicted_label, votes, correct` plus the
    * panel accuracy repeated per row (1e-6 grid).
    *
    * Scale shape: one corpus × m broadcast crossJoin with a per-probe
    * top-k window; vote counting is probe×k-grain.
    */
  def knnLooLabelCheck(emb: DataFrame, vecCol: String, idCol: String,
      labelCol: String, mProbes: Int = 20, k: Int = 3): DataFrame = {
    require(mProbes >= 1 && k >= 1, "need mProbes >= 1 and k >= 1")
    val d = emb.select(size(col(vecCol))).head().getInt(0)
    val pts = Caches.persist(emb.select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__v"),
        col(labelCol).cast("long").as("__lb"))
      .filter(size(col("__v")) === d && !exists(col("__v"), x => isnan(x))))
    def d2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0d), (acc, z) => acc + z)
    val probes = pts
      .orderBy(md5Long(concat(lit("knn:"), col("__id"))), col("__id"))
      .limit(mProbes)
      .select(col("__id").as("__pid"), col("__v").as("__pv"),
        col("__lb").as("true_label"))
    val w = Window.partitionBy("__pid")
      .orderBy(col("__d9").asc, col("__id").asc)
    val nn = pts.crossJoin(broadcast(probes))
      .filter(col("__id") =!= col("__pid"))
      .select(col("__pid"), col("true_label"), col("__id"), col("__lb"),
        floor(d2(col("__pv"), col("__v")) * 1e9 + 0.5).cast("long")
          .as("__d9"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
    val wVote = Window.partitionBy("__pid")
      .orderBy(col("__nv").desc, col("__lb").asc)
    val voted = nn.groupBy("__pid", "true_label", "__lb")
      .agg(count(lit(1)).as("__nv"))
      .withColumn("__vr", row_number().over(wVote))
      .where(col("__vr") === 1)
    val scored = Caches.persist(voted.select(
      col("__pid").as("probe_id"), col("true_label"),
      col("__lb").as("predicted_label"), col("__nv").as("votes"),
      (col("true_label") === col("__lb")).as("correct")))
    val acc = scored.agg(
      (floor(sum(when(col("correct"), 1L).otherwise(0L))
        .cast("double") / count(lit(1)) * 1e6 + 0.5) / 1e6)
        .as("panel_accuracy"))
    scored.crossJoin(broadcast(acc)).orderBy("probe_id")
  }

  /** Local Outlier Factor (Breunig 2000) for a deterministic md5
    * probe panel — the DENSITY-relative outlier score a global
    * z-score can't give (a point at the edge of a tight cluster is
    * more anomalous than one inside a diffuse one): LOF(p) = mean
    * lrd(o)/lrd(p) over p's k neighbors, lrd = 1/mean reachability
    * distance, reach(p,o) = max(k-distance(o), d(p,o)). The exact
    * 2-hop expansion: kNN of the probes, then of their neighbors,
    * then of THEIR neighbors (k-distances only) — candidate sets stay
    * O(m·k²), never corpus².
    *
    * Determinism: squared distances quantize to the 1e-9 grid (the
    * TwoNN discipline), distances are IEEE sqrt of those grid
    * integers, reach/lrd terms re-quantize to 1e-9 pre-sum. Output
    * per probe: `probe_id, k, lrd, lof` (1e-6/1e-4 grids; NULL when
    * a zero reachability sum — exact duplicates — degenerates lrd).
    *
    * Scale shape: three bounded crossJoin+top-k passes over the
    * corpus (each a broadcast of ≤ m·k² query points, with the top-k
    * window partitioned per query); everything after is
    * probe/neighbor-grain algebra.
    */
  def lofScores(emb: DataFrame, vecCol: String, idCol: String,
      mProbes: Int = 10, k: Int = 3): DataFrame = {
    require(mProbes >= 1 && k >= 2, "need mProbes >= 1 and k >= 2")
    val d = emb.select(size(col(vecCol))).head().getInt(0)
    val pts = Caches.persist(emb.select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__v"))
      .filter(size(col("__v")) === d && !exists(col("__v"), x => isnan(x))))
    def d2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0d), (acc, z) => acc + z)
    def knn(q: DataFrame): DataFrame = {
      val w = Window.partitionBy("__qid")
        .orderBy(col("__d9").asc, col("__id").asc)
      pts.crossJoin(broadcast(q))
        .filter(col("__id") =!= col("__qid"))
        .select(col("__qid"), col("__id"),
          floor(d2(col("__qv"), col("__v")) * 1e9 + 0.5).cast("long")
            .as("__d9"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= k)
    }
    val probes = pts
      .orderBy(md5Long(concat(lit("lof:"), col("__id"))), col("__id"))
      .limit(mProbes)
      .select(col("__id").as("__qid"), col("__v").as("__qv"))
    val nn0 = Caches.persist(knn(probes))
    val s1 = Caches.persist(nn0.select(col("__id")).distinct()
      .join(pts, Seq("__id"))
      .select(col("__id").as("__qid"), col("__v").as("__qv")))
    val nn1 = Caches.persist(knn(s1))
    val s2 = nn1.select(col("__id")).distinct()
      .join(pts, Seq("__id"))
      .select(col("__id").as("__qid"), col("__v").as("__qv"))
    val nn2 = knn(s2)
    val dk2 = nn2.groupBy(col("__qid").as("__n2"))
      .agg(max("__d9").as("__dkb"))
    val dk1 = nn1.groupBy(col("__qid").as("__n1"))
      .agg(max("__d9").as("__dka"))
    def reach(nn: DataFrame, dk: DataFrame, nid: String,
        dkc: String): DataFrame =
      nn.join(dk, nn("__id") === dk(nid))
        .select(col("__qid"),
          floor(greatest(sqrt(col(dkc).cast("double") / 1e9),
            sqrt(col("__d9").cast("double") / 1e9)) * 1e9 + 0.5)
            .cast("long").as("__r9"))
    val lrd1 = reach(nn1, dk2, "__n2", "__dkb")
      .groupBy(col("__qid").as("__oid")).agg(sum("__r9").as("__sr"))
      .select(col("__oid"),
        when(col("__sr") > 0,
          lit(1d) / (col("__sr").cast("double") / 1e9 / k))
          .as("__lrdO"))
    val lrd0 = reach(nn0, dk1, "__n1", "__dka")
      .groupBy("__qid").agg(sum("__r9").as("__sr"))
      .select(col("__qid"),
        when(col("__sr") > 0,
          lit(1d) / (col("__sr").cast("double") / 1e9 / k))
          .as("__lrdP"))
    val folded = nn0.join(lrd1, nn0("__id") === lrd1("__oid"))
      .select(col("__qid"),
        floor(col("__lrdO") * 1e9 + 0.5).cast("long").as("__l9"))
      .groupBy("__qid")
      .agg(sum("__l9").as("__sl"), count(col("__l9")).as("__nc"))
      .join(lrd0, Seq("__qid"))
    folded.select(col("__qid").as("probe_id"), lit(k).as("k"),
      when(col("__lrdP").isNotNull,
        floor(col("__lrdP") * 1e6 + 0.5) / 1e6).as("lrd"),
      when(col("__lrdP").isNotNull && col("__nc") === k,
        floor(col("__sl").cast("double") / 1e9 / k / col("__lrdP")
          * 1e4 + 0.5) / 1e4).as("lof"))
      .orderBy("probe_id")
  }

  /** Cluster-validity indices over a labeled embedding table —
    * Davies–Bouldin (lower = tighter/better-separated) and
    * Calinski–Harabasz (higher = better), the two standard
    * internal-quality numbers next to [[silhouetteReport]]'s
    * per-cluster view (q243) and [[classSeparability]]'s per-class
    * scatter (q358, whose 1e-7 coordinate grid and integer moments
    * this reuses):
    *   DB = (1/k)·Σ_i max_{j≠i} (S_i + S_j)/‖μ_i − μ_j‖,
    *     S_i = mean point-to-centroid Euclidean distance;
    *   CH = (trB/(k−1)) / (trW/(n−k)).
    * Per-dimension squared deviations, per-point distances, and
    * centroid-gap terms are each quantized to 1e-9 integers BEFORE
    * any cross-row sum, so both engines fold identical values in any
    * partition order. Output per label:
    * `label, n_vecs, scatter, db_component, db_index, ch_index`
    * (scatter/db 1e-6, CH 1e-4; db_index/ch_index repeated per row
    * like q358's fisher_ratio).
    *
    * Scale shape: two corpus passes over the persisted (id, label,
    * dim, coord) cells — per-(label,dim) moments (k·d rows), then a
    * broadcast centroid join for point distances; the pair work is
    * k²·d-grain centroid algebra, never data-sized.
    */
  def clusterValidity(emb: DataFrame, vecCol: String, labelCol: String,
      idCol: String): DataFrame = {
    val d = emb.select(size(col(vecCol))).head().getInt(0)
    val cells = Caches.persist(emb
      .filter(size(col(vecCol).cast("array<double>")) === d &&
        !exists(col(vecCol).cast("array<double>"), x => isnan(x)))
      .select(col(idCol).as("__id"), col(labelCol).as("__l"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("__p", "__x")))
      .select(col("__id"), col("__l"), col("__p"),
        when(col("__x") >= 0, floor(col("__x") * 1e7 + 0.5))
          .otherwise(-floor(-col("__x") * 1e7 + 0.5)).cast("long")
          .as("__x7")))
    val perLD = Caches.persist(cells.groupBy("__l", "__p")
      .agg(count(lit(1)).as("__n"), sum("__x7").as("__s"),
        sum(col("__x7").cast("decimal(38,0)") * col("__x7")).as("__q")))
    val perD = perLD.groupBy("__p")
      .agg(sum("__n").as("__tn"), sum("__s").as("__ts"))
    // trW / trB on the q358 grids (1e-9 integers per (label, dim))
    val scat = perLD.join(perD, Seq("__p"))
      .select(col("__l"), col("__n"),
        floor((col("__q").cast("double")
          - col("__s").cast("double") * col("__s") / col("__n")) / 1e14
          * 1e9 + 0.5).cast("long").as("__w9"),
        floor(col("__n") * (col("__s").cast("double") / col("__n") / 1e7
            - col("__ts").cast("double") / col("__tn") / 1e7)
          * (col("__s").cast("double") / col("__n") / 1e7
            - col("__ts").cast("double") / col("__tn") / 1e7)
          * 1e9 + 0.5).cast("long").as("__b9"))
      .groupBy("__l").agg(max("__n").as("n_vecs"),
        sum("__w9").as("__w9s"), sum("__b9").as("__b9s"))
    val tot = scat.agg(sum("__w9s").as("__W"), sum("__b9s").as("__B"),
      sum("n_vecs").as("__nt"), count(lit(1)).as("__k"))
    // per-point Euclidean distance to the OWN centroid, 1e-9 pre-sum
    val cent = perLD.select(col("__l"), col("__p"),
      (col("__s").cast("double") / col("__n")).as("__mu7"))
    val dists = cells.join(broadcast(cent), Seq("__l", "__p"))
      .select(col("__id"), col("__l"),
        floor((col("__x7") - col("__mu7")) * (col("__x7") - col("__mu7"))
          / 1e14 * 1e9 + 0.5).cast("long").as("__dd9"))
      .groupBy("__id", "__l").agg(sum("__dd9").as("__sq9"))
      .select(col("__l"),
        floor(sqrt(col("__sq9").cast("double") / 1e9) * 1e9 + 0.5)
          .cast("long").as("__dist9"))
    val sI = dists.groupBy("__l")
      .agg((sum("__dist9").cast("double") / 1e9 / count(lit(1)))
        .as("__si"))
    // k²·d centroid-gap algebra → per-label worst Davies–Bouldin ratio
    val gaps = cent.as("a").join(cent.as("b"),
        col("a.__p") === col("b.__p") && col("a.__l") =!= col("b.__l"))
      .select(col("a.__l").as("__li"), col("b.__l").as("__lj"),
        floor((col("a.__mu7") - col("b.__mu7"))
          * (col("a.__mu7") - col("b.__mu7")) / 1e14 * 1e9 + 0.5)
          .cast("long").as("__g9"))
      .groupBy("__li", "__lj").agg(sum("__g9").as("__m9"))
    val rMax = gaps
      .join(sI.select(col("__l").as("__li"), col("__si").as("__sa")),
        Seq("__li"))
      .join(sI.select(col("__l").as("__lj"), col("__si").as("__sb")),
        Seq("__lj"))
      .select(col("__li").as("__l"),
        when(col("__m9") > 0L, (col("__sa") + col("__sb")) /
          sqrt(col("__m9").cast("double") / 1e9)).as("__r"))
      // worst ratio per label, 1e-9-gridded so the k-row mean below
      // folds exact integers (a raw-double avg would be order-bound)
      .groupBy("__l").agg(
        floor(max("__r") * 1e9 + 0.5).cast("long").as("__rmax9"))
    val db = rMax.agg(
      (sum("__rmax9").cast("double") / 1e9 / count(lit(1))).as("__db"))
    def g6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6 + lit(0d)
    def g4(c: Column): Column = floor(c * 1e4 + 0.5) / 1e4 + lit(0d)
    val ch = (col("__B").cast("double") /
      when(col("__k") > 1L, (col("__k") - 1L).cast("double"))) /
      (when(col("__W") > 0L, col("__W").cast("double")) /
        when(col("__nt") > col("__k"),
          (col("__nt") - col("__k")).cast("double")))
    scat.join(sI, Seq("__l")).join(rMax, Seq("__l"))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(db))
      .select(col("__l").as(labelCol), col("n_vecs"),
        g6(col("__si")).as("scatter"),
        g6(col("__rmax9").cast("double") / 1e9).as("db_component"),
        g6(col("__db")).as("db_index"),
        when(col("__k") > 1L && col("__W") > 0L &&
          col("__nt") > col("__k"), g4(ch)).as("ch_index"))
      .orderBy(labelCol)
  }
}
