package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expr.VectorKernels.cosine_sim

/** Similarity search over an `array<float>` embedding column
  * (builder north star; SURVEY.md §2.12).
  *
  * Two paths:
  *  - [[cosineTopK]]: brute-force baseline — broadcast the (small) query
  *    set against the full collection; exact, one scan, no shuffle of the
  *    big side except the final per-query top-k.
  *  - [[ivfTopK]]: IVF-style scale path — assign every vector to its
  *    nearest coarse centroid (the "inverted file"), then search only the
  *    `nprobe` cells closest to each query. At 100 TB the assignment is a
  *    one-off bucketing write (partition by cell id); queries touch
  *    nprobe/k of the data instead of all of it.
  *
  * All ranking tie-breaks are pinned (id ascending) so results are
  * deterministic and oracle-checkable.
  */
object Similarity {

  /** Broadcast valve for the brute-force path: the query side is
    * broadcast to every task, so its row count must be bounded BEFORE
    * the plan runs — an oversized query set is a guaranteed driver/
    * executor OOM, not a slow query. Tunable per deployment via
    * `spark.graft.similarity.broadcastMaxQueries` (default 1M rows ≈
    * a few hundred MB of id+vector, inside Spark's 8 GB broadcast
    * hard cap for typical dims). */
  private def broadcastMaxQueries(df: DataFrame): Long =
    df.sparkSession.conf
      .get("spark.graft.similarity.broadcastMaxQueries", "1000000").toLong

  /** Exact cosine top-k: for each query row, the k nearest non-self
    * vectors. `queries` must fit the broadcast valve
    * (`spark.graft.similarity.broadcastMaxQueries`): brute force
    * broadcasts it against the full collection, and silently switching
    * an EXACT contract to an approximate plan would be worse than
    * failing — oversized query sets fail fast with a pointer to
    * [[ivfTopK]]/[[routedTopK]]. The count is one job over the (small
    * by contract) query side, trivial next to the collection scan. */
  def cosineTopK(collection: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val maxQ = broadcastMaxQueries(queries)
    val nQ = queries.count()
    require(nQ <= maxQ,
      s"cosineTopK broadcasts the query side, but it has $nQ rows " +
        s"(> spark.graft.similarity.broadcastMaxQueries = $maxQ). " +
        "Use ivfTopK/routedTopK for large query sets, or raise the valve.")
    cosineTopKUnchecked(collection, queries, k)
  }

  // Shape note: the top-k per query is one partial/final hash aggregate
  // over a k-slot buffer ([[graft.expr.TopKNeighbors]]) — a local top-k
  // per task, merged globally (REPOSE's shape). A row_number window,
  // even with Spark 4's WindowGroupLimit, sorts every partition's sim
  // rows before limiting; the aggregate does one O(k) insertion probe
  // per row and the exchange carries one ≤ k-entry buffer per (task,
  // query). Its buffer is fixed-width, so Spark runs it in
  // HashAggregateExec, which holds any number of queries per task
  // without a sort fallback and needs no conf override. Ordering is the
  // window's — (sim DESC, neighbor_id ASC) under Spark's double
  // ordering — so results match row-for-row; sim_r is rounded only on
  // output, after ranking.
  private[graft] def topKFromSims(sims: DataFrame, k: Int): DataFrame = {
    sims.groupBy(col("q_id"))
      .agg(graft.expr.TopKNeighbors.topk_neighbors(
        col("sim"), col("neighbor_id"), k).as("_top"))
      .select(col("q_id"), posexplode(col("_top")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rn"),
        col("col.neighbor_id").as("neighbor_id"),
        round(col("col.sim"), 9).as("sim_r"))
  }

  // Per-pair FLOP cut (r15, guide §1.2 step 2): the fused cosine kernel
  // recomputes BOTH vectors' squared norms inside the |C|×|Q| loop —
  // 3 FMAs/dim/pair. Precomputing nsq = dot(v, v) once per row on each
  // side (|C| + |Q| rows, outside the join) leaves 1 FMA/dim/pair.
  // Bit-identical by construction: dot(a, a) runs the exact
  // accumulation order of the kernel's `na`, and
  // dot / sqrt(nsqA * nsqB) is the kernel's final expression verbatim;
  // null/zero-norm/length-mismatch rows null out exactly as before
  // (dot is null on mismatch, the `when` nulls zero norms).
  // CosineKnnParitySpec pins equality against the fused form.
  private def cosineTopKUnchecked(collection: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    import graft.expr.VectorKernels.dot_product
    val q = broadcast(queries
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        dot_product(col("embedding"), col("embedding")).as("_qn")))
    topKFromSims(
      collection
        .select(col("vec_id").as("neighbor_id"), col("embedding"),
          dot_product(col("embedding"), col("embedding")).as("_nn"))
        .join(q, col("neighbor_id") =!= col("q_id"))
        .select(col("q_id"), col("neighbor_id"),
          when(col("_nn") =!= 0.0 && col("_qn") =!= 0.0,
            dot_product(col("embedding"), col("q_emb"))
              / sqrt(col("_nn") * col("_qn"))).as("sim"))
        .filter(col("sim").isNotNull),
      k)
  }

  /** Mean pairwise cosine similarity within each label — computed via the
    * normalized-sum identity, NOT a pairwise join:
    *
    *   Σ_{i<j} cos(v_i, v_j) = (‖Σ v̂‖² − Σ‖v̂‖²) / 2 = (‖Σ v̂‖² − n) / 2
    *
    * for unit-normalized v̂, so mean = (‖Σ v̂‖² − n) / (n(n−1)). One O(n·d)
    * hash-aggregate (d per-dimension sums + a count per label), no join at
    * all — exact, and it scales to any corpus size where an all-pairs join
    * (O(n²) within each label) cannot.
    *
    * Norms are computed as left-associated fold chains so they are
    * bit-identical across engines; the per-label dimension sums are the
    * only order-sensitive float reductions (≈1e-15 relative), absorbed by
    * the final round(6).
    */
  def labelCohesion(emb: DataFrame, labelCol: String, embCol: String,
      dim: Int): DataFrame = {
    val nv = emb
      .select(col(labelCol), col(embCol).cast("array<double>").as("ed"))
      .withColumn("nrm", expr("sqrt(aggregate(ed, 0D, (a, y) -> a + y * y))"))
      // zero-norm vectors have no direction — cosine with them is
      // undefined; drop them (the pairwise formulation dropped those
      // pairs via a null filter)
      .filter(col("nrm") > 0)
      .select(col(labelCol), expr("transform(ed, x -> x / nrm)").as("v"))
    val aggCols = count(lit(1)).as("n") +:
      (0 until dim).map(i => sum(expr(s"v[$i]")).as(s"s$i"))
    val g = nv.groupBy(col(labelCol)).agg(aggCols.head, aggCols.tail: _*)
    val sumSq = (0 until dim).map(i => col(s"s$i") * col(s"s$i")).reduce(_ + _)
    g.select(col(labelCol),
      ((col("n") * (col("n") - 1)) / 2).cast("long").as("n_pairs"),
      // singleton labels have no pairs: mean is undefined, not 0/0
      when(col("n") > 1,
        round((sumSq - col("n")) / (col("n") * (col("n") - 1)), 6))
        .as("mean_sim"))
  }

  /** Cell assignment: nearest centroid per vector (ties → lowest
    * centroid id). The centroid list is COLLECTED once (bounded by
    * `spark.graft.similarity.maxLiteralCentroids`, default 65536 —
    * ~16 MB of floats at dim 64, a plan constant, not a broadcast
    * relation) and the argmax runs ROW-LOCAL in one codegen'd map over
    * the collection ([[graft.expr.NearestCentroid]]): no
    * |collection|×|centroids| explode, no corpus-sized window shuffle,
    * and the output keeps the collection's partitioning (guide §2.4).
    * Above the valve — or for non-(bigint, array<float>) centroid
    * schemas — the former broadcast-crossJoin + row_number window path
    * runs instead; both paths keep exactly the window's row (sim ties
    * → lowest cid under Spark's double ordering, vectors with no
    * defined cosine dropped). */
  def assignCells(collection: DataFrame, centroids: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}
    val cap = collection.sparkSession.conf
      .get("spark.graft.similarity.maxLiteralCentroids", "65536").toInt
    val centSel = centroids
      .select(col("vec_id").as("cid"), col("embedding").as("c_emb"))
    val typed = centSel.schema("cid").dataType == LongType &&
      (centSel.schema("c_emb").dataType match {
        case ArrayType(FloatType, _) => true
        case _ => false
      })
    // limit(cap + 1) bounds the collect itself: an over-cap centroid
    // set costs one extra row, never a driver OOM
    val rows = if (typed) centSel.limit(cap + 1).collect() else null
    if (typed && rows.length <= cap) {
      val cents: Seq[(Long, Seq[Float])] = rows.toSeq
        .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
        .map { r =>
          // null array elements read as 0.0f in the unsafe row format
          // the cosine kernel saw on the crossJoin path — keep that
          val e = r.getSeq[java.lang.Float](1)
            .map(f => if (f == null) 0.0f else f.floatValue()).toSeq
          (r.getLong(0), e)
        }
      collection
        .withColumn("cid", graft.expr.NearestCentroid
          .nearest_centroid(col("embedding"), cents))
        .filter(col("cid").isNotNull)
        .select(col("vec_id"), col("embedding"), col("cid"))
    } else assignCellsExploded(collection, centroids)
  }

  /** The pre-r15 assignment shape, kept as the over-valve fallback:
    * broadcast-crossJoin every centroid against every vector and keep
    * the top row per vector via a row_number window. */
  private[ops] def assignCellsExploded(collection: DataFrame,
      centroids: DataFrame): DataFrame = {
    val c = broadcast(centroids
      .select(col("vec_id").as("cid"), col("embedding").as("c_emb")))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cid").asc)
    collection.crossJoin(c)
      .withColumn("csim", cosine_sim(col("embedding"), col("c_emb")))
      .filter(col("csim").isNotNull)
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("embedding"), col("cid"))
  }

  /** One k-means refinement step over cosine cells: E-step re-assigns
    * every vector to its nearest centroid ([[assignCells]] — broadcast
    * centroids, one pass), M-step emits each cell's per-dimension mean in
    * LONG form (cid, dim, n, c) via posexplode + hash-agg. Long form
    * keeps the shuffle rows narrow and the oracle comparison simple; the
    * caller pivots back to vectors when feeding the next iteration. The
    * per-(cell, dim) mean is the only order-sensitive float reduction
    * (≈1e-15 relative) — absorbed by round(6), same tolerance posture as
    * labelCohesion. */
  def centroidUpdate(collection: DataFrame,
      centroids: DataFrame): DataFrame = {
    assignCells(collection, centroids)
      .select(col("cid"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col("cid"), col("dim"))
      .agg(count(lit(1)).as("n"), round(avg(col("x")), 6).as("c"))
  }

  /** IVF approximate top-k: probe the `nprobe` nearest cells per query,
    * exact-rank inside them. */
  def ivfTopK(collection: DataFrame, centroids: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int): DataFrame = {
    val assigned = assignCells(collection, centroids)
    val c = broadcast(centroids
      .select(col("vec_id").as("cid"), col("embedding").as("c_emb")))
    // cells to probe per query
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("qcsim").desc, col("cid").asc)
    val probes = queries
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        graft.expr.VectorKernels.dot_product(
          col("embedding"), col("embedding")).as("_qn"))
      .crossJoin(c)
      .withColumn("qcsim", cosine_sim(col("q_emb"), col("c_emb")))
      .filter(col("qcsim").isNotNull)
      .withColumn("qcrn", row_number().over(wq))
      .filter(col("qcrn") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("_qn"), col("cid"))
    // search only the probed cells; final rank via the same k-slot
    // aggregate as cosineTopK, with the same dot-form sim (squared
    // norms precomputed per side OUTSIDE the cell×query pair loop —
    // bit-identical to the fused kernel, see cosineTopKUnchecked)
    topKFromSims(
      assigned
        .withColumn("_nn", graft.expr.VectorKernels.dot_product(
          col("embedding"), col("embedding")))
        .join(broadcast(probes), Seq("cid"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          when(col("_nn") =!= 0.0 && col("_qn") =!= 0.0,
            graft.expr.VectorKernels.dot_product(
              col("embedding"), col("q_emb"))
              / sqrt(col("_nn") * col("_qn"))).as("sim"))
        .filter(col("sim").isNotNull),
      k)
  }

  /** Valve-aware top-k router: exact brute force ([[cosineTopK]]) while
    * the query side fits the broadcast valve, IVF probing otherwise —
    * the explicit "route oversized query sets to the scale path"
    * combinator. The switch is by DESIGN a visible API (not a silent
    * fallback inside cosineTopK): crossing it changes exact results to
    * approximate ones, which a caller must have opted into by passing
    * centroids. Output schema is identical on both paths
    * (q_id, rn, neighbor_id, sim_r). */
  def routedTopK(collection: DataFrame, centroids: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    if (queries.count() <= broadcastMaxQueries(queries))
      cosineTopKUnchecked(collection, queries, k)
    else ivfTopK(collection, centroids, queries, k, nprobe)
  }

  /** Johnson–Lindenstrauss random projection dim→outDim via the SHARED
    * Rademacher sign matrix ([[graft.ops.EmbeddingLsh.sign]] — the same
    * deterministic planes the sign-bit LSH thresholds, used here
    * real-valued): y_j = ⟨v, h_j⟩ / √outDim. The JL lemma bounds pairwise
    * distance distortion, so downstream ANN/dedup can run on 4× narrower
    * vectors — the standard storage/compute cut before an index build.
    *
    * One map-side pass (outDim codegen dot-product kernels against
    * constant planes), no shuffle, no UDF. Each component is a
    * left-fold float64 chain ÷ an exact constant — bit-identical in the
    * DuckDB oracle, so projected values (not just comparisons) are
    * reproducible across engines. */
  def randomProject(emb: DataFrame, idCol: String, embCol: String,
      dim: Int, outDim: Int): DataFrame = {
    import graft.expr.VectorKernels.dot_product
    val scale = math.sqrt(outDim.toDouble)
    val comps = (0 until outDim).map { j =>
      val plane = array((0 until dim).map(i =>
        lit(graft.ops.EmbeddingLsh.sign(j, i).toFloat)): _*)
      (dot_product(col(embCol), plane) / scale).as(s"_p$j")
    }
    emb.select(col(idCol) +: comps: _*)
      .select(col(idCol),
        array((0 until outDim).map(j => col(s"_p$j")): _*).as("proj"))
  }

  /** SemDeDup-style SEMANTIC dedup: cluster-partition the corpus
    * ([[assignCells]] — broadcast centroids, one pass), then find
    * near-duplicate pairs only WITHIN each cell — an equi-join on the
    * cell id, never an all-pairs join. The scale contract is the centroid
    * count: k ∝ n keeps the per-cell population constant, so total
    * within-cell pair work stays linear in corpus size while recall loss
    * is confined to pairs straddling a cell boundary (the published
    * SemDeDup trade — near-identical vectors land in the same cell with
    * overwhelming probability because assignment is by the same cosine
    * geometry that makes them near-dups). Complements
    * [[graft.ops.EmbeddingLsh]]: LSH buckets by random projections
    * (tunable recall, no centroids); SemDeDup buckets by data geometry
    * and yields the cluster structure for free.
    *
    * Tie-breaks pinned (pair oriented vec_a < vec_b; assignment ties →
    * lowest cid); exact cosine verify, round(9) absorbing the ~1e-16
    * fold-order difference vs the oracle. */
  def semanticNearDupPairs(emb: DataFrame, centroids: DataFrame,
      threshold: Double): DataFrame = {
    // the assignment subtree feeds BOTH sides of the within-cell
    // self-join; uncached, Catalyst plans the broadcast-assign pass
    // twice (verified via .explain — two BroadcastNestedLoopJoin +
    // Window subtrees). Cache it so the corpus is assigned once.
    // LIFECYCLE: reclaimed by the harness clearCache() per query;
    // library callers who need deterministic cleanup should own the
    // assignment via [[assignCells]] + [[semanticNearDupPairsOnAssigned]]
    // (same owner-split convention as Dedup.candidateShingles).
    semanticNearDupPairsOnAssigned(
      assignCells(emb, centroids).cache(), threshold)
  }

  /** [[semanticNearDupPairs]] over a pre-assigned (vec_id, embedding,
    * cid) table whose caching the CALLER owns. */
  def semanticNearDupPairsOnAssigned(assigned: DataFrame,
      threshold: Double): DataFrame = {
    val a = assigned.select(col("cid"), col("vec_id").as("vec_a"),
      col("embedding").as("_ea"))
    val b = assigned.select(col("cid"), col("vec_id").as("vec_b"),
      col("embedding").as("_eb"))
    a.join(b, "cid")
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("sim", cosine_sim(col("_ea"), col("_eb")))
      .filter(col("sim") >= threshold)
      .select(col("cid"), col("vec_a"), col("vec_b"),
        round(col("sim"), 9).as("cos_sim"))
  }

  /** Matryoshka-style truncation fidelity: how well does the cosine on
    * the first d dimensions track the full-dimension cosine? (Kusupati
    * et al., "Matryoshka Representation Learning", NeurIPS'22 made
    * prefix-truncation the standard cheap-retrieval trick; this is the
    * audit run before committing an index to a truncated dim.) Over a
    * deterministic pair sample (id, id+offset), emits per tier d: pair
    * count, mean |cos_d − cos_full|, and the Pearson correlation of the
    * two similarity series.
    *
    * Shape: the pair sample is |offsets| equi-joins on the id (no
    * pair-space blowup — sample size is chosen by the caller's offsets,
    * not n²); tiers fan out by a broadcast nested loop over the
    * |dims|-row spec; one (d)-keyed hash-agg holds the sums. Pearson
    * comes from the sum/sumsq/cross identity with one shared
    * parenthesization (round 6 absorbs ~1e-15 summation-order drift —
    * the arrayDimStats posture). */
  def truncationFidelity(emb: DataFrame, idCol: String, vecCol: String,
      dims: Seq[Int], offsets: Seq[Long]): DataFrame = {
    require(dims.nonEmpty && offsets.nonEmpty)
    val s = emb.sparkSession
    import s.implicits._
    val spec = dims.toDF("d")
    val a = emb.select(col(idCol).as("_ida"), col(vecCol).as("_va"))
    val b = emb.select(col(idCol).as("_idb"), col(vecCol).as("_vb"))
    val pairs = offsets.map { off =>
      a.join(b, a("_ida") + off === b("_idb"))
    }.reduce(_ union _)
    val sims = pairs.crossJoin(broadcast(spec))
      .select(col("d"),
        cosine_sim(col("_va"), col("_vb")).as("f"),
        cosine_sim(slice(col("_va"), lit(1), col("d")),
          slice(col("_vb"), lit(1), col("d"))).as("t"))
      .where(col("f").isNotNull && col("t").isNotNull)
    sims.groupBy(col("d"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(abs(col("t") - col("f"))).as("_sad"),
        sum(col("f")).as("_sf"), sum(col("t")).as("_st"),
        sum(col("f") * col("f")).as("_sff"),
        sum(col("t") * col("t")).as("_stt"),
        sum(col("f") * col("t")).as("_sft"))
      .select(col("d"), col("n_pairs"),
        round(col("_sad") / col("n_pairs"), 6).as("mean_abs_diff_r"),
        round((col("_sft") / col("n_pairs")
            - (col("_sf") / col("n_pairs")) * (col("_st") / col("n_pairs")))
          / (sqrt(col("_sff") / col("n_pairs")
              - (col("_sf") / col("n_pairs")) * (col("_sf") / col("n_pairs")))
            * sqrt(col("_stt") / col("n_pairs")
              - (col("_st") / col("n_pairs")) * (col("_st") / col("n_pairs")))),
          6).as("corr_r"))
  }

  /** Label-outlier detection: each vector's cosine to its OWN label
    * centroid, standardized within the label — vectors whose z-score
    * falls below `zCut` are flagged as probable mislabels / junk (the
    * confident-learning-lite pass a labeled-data pipeline runs before
    * training). Complements [[labelCentroidCosine]] (which asks if two
    * LABELS coincide; this asks if a VECTOR belongs to its label).
    *
    * Exactness: centroids on the 1e-6-integer/9-dp grid as in
    * [[labelCentroidCosine]]; per-vector dot/norms sum 12-dp-rounded
    * per-dim terms as DECIMAL (order-independent); cosines land on a
    * 9-dp grid before the label-moment reduction (12-dp DECIMAL sums),
    * so z-scores are one shared double parenthesization over exact
    * aggregates. Shape: posexplode grain → (label, dim) centroid agg →
    * dim equi-join back → per-vector agg → per-label moments joined
    * broadcast. Nothing wider than |vectors|·dim, one pass each. */
  def labelOutliers(emb: DataFrame, idCol: String, groupCol: String,
      vecCol: String, zCut: Double): DataFrame = {
    val grain = emb.select(col(idCol).as("_id"),
        col(groupCol).as("_g"),
        posexplode(col(vecCol)).as(Seq("dim", "_vf")))
      .withColumn("_v", round(col("_vf").cast("double")
        * lit(1000000.0)).cast("long"))
    val cent = grain.groupBy(col("_g"), col("dim"))
      .agg(count(lit(1)).as("_n"), sum(col("_v")).as("_s6"))
      .select(col("_g"), col("dim"),
        round(col("_s6").cast("double") / col("_n") / lit(1000000.0), 9)
          .as("_c"))
    // Scaled-INTEGER sums, not DECIMAL: a DECIMAL(28,12) → double cast
    // is DOUBLE-rounded differently across engines (measured: one
    // structural half-boundary at sf0.1 flipped the 9-dp cos grid);
    // int64 → double is a SINGLE correctly-rounded conversion on both.
    // The 1e12 scale cancels inside cos (dot·1e12 / √(nv·1e12·nc·1e12)).
    val perVec = grain
      .withColumn("_vd", col("_v").cast("double") / lit(1000000.0))
      .join(cent, Seq("_g", "dim"))
      .groupBy(col("_id"), col("_g"))
      .agg(
        sum(round(col("_vd") * col("_c") * lit(1.0e12)).cast("long"))
          .as("_dot"),
        sum(round(col("_vd") * col("_vd") * lit(1.0e12)).cast("long"))
          .as("_nv"),
        sum(round(col("_c") * col("_c") * lit(1.0e12)).cast("long"))
          .as("_nc"))
      .select(col("_id"), col("_g"),
        when(col("_nv") > 0 && col("_nc") > 0,
          round(col("_dot").cast("double") /
            nullif(sqrt(col("_nv").cast("double"))
              * sqrt(col("_nc").cast("double")), lit(0.0)), 9))
          .as("cos_r"))
    val moments = perVec.where(col("cos_r").isNotNull)
      .groupBy(col("_g"))
      .agg(count(lit(1)).as("_m"),
        sum(round(col("cos_r") * lit(1.0e9)).cast("long")).as("_sm"),
        sum(round(col("cos_r") * col("cos_r") * lit(1.0e12))
          .cast("long")).as("_sq"))
    val mu = col("_sm").cast("double") / lit(1.0e9) / col("_m")
    val sd = sqrt((col("_sq").cast("double") / lit(1.0e12)
      - col("_sm").cast("double") / lit(1.0e9)
        * (col("_sm").cast("double") / lit(1.0e9)) / col("_m"))
      / nullif(col("_m") - lit(1), lit(0)))
    val z = (col("cos_r") - mu) / nullif(sd, lit(0.0))
    perVec.join(broadcast(moments), Seq("_g"))
      .select(col("_id").as(idCol), col("_g").as(groupCol),
        col("cos_r"),
        round(when(col("_m") >= 2, z), 6).as("z_r"),
        coalesce(when(col("_m") >= 2, z) < lit(zCut), lit(false))
          .as("is_outlier"))
  }

  /** Label/domain centroid cosine-similarity matrix: mean embedding per
    * group, then pairwise cosine between the group centroids — the
    * "how semantically close are these two sources/classes" readout
    * that scopes mixture design and flags label confusion (classes
    * whose centroids nearly coincide). Output is |groups|² rows —
    * tiny — with group_a < group_b orientation.
    *
    * Exactness at scale: components are scaled to 1e-6-grid integers
    * and summed as BIGINT (exact, order-independent — avg of raw
    * floats would drift with partition merge order), centroids land on
    * a fixed 9-dp grid, and the dot/norm reductions sum 12-dp-rounded
    * per-dim terms as DECIMAL — the q226 order-independent-sum
    * posture, so cosine values are bit-identical cross-engine. Shape:
    * posexplode to (group, dim) grain → one hash-agg (|groups|·dim
    * rows), an equi-join on dim for the pair dots, nothing corpus-sized
    * past the first agg. */
  def labelCentroidCosine(emb: DataFrame, groupCol: String,
      vecCol: String): DataFrame = {
    val grain = emb
      .select(col(groupCol).as("g"), posexplode(col(vecCol))
        .as(Seq("dim", "_v")))
      .groupBy(col("g"), col("dim"))
      .agg(count(lit(1)).as("_n"),
        sum(round(col("_v").cast("double") * lit(1000000.0))
          .cast("long")).as("_s6"))
      .select(col("g"), col("dim"),
        round(col("_s6").cast("double") / col("_n") / lit(1000000.0), 9)
          .as("c"))
    // scaled-INT64 sums, not DECIMAL — the q273 lesson applied
    // preemptively: same centroid grids, same structural-boundary
    // exposure; int64 → double is single-rounded on both engines
    val norms = grain.groupBy(col("g"))
      .agg(sum(round(col("c") * col("c") * lit(1.0e12)).cast("long"))
        .as("_nn"))
    val a = grain.select(col("g").as("group_a"), col("dim"),
      col("c").as("_ca"))
    val b = grain.select(col("g").as("group_b"), col("dim"),
      col("c").as("_cb"))
    val dots = a.join(b, "dim")
      .where(col("group_a") < col("group_b"))
      .groupBy(col("group_a"), col("group_b"))
      .agg(sum(round(col("_ca") * col("_cb") * lit(1.0e12)).cast("long"))
        .as("_dot"))
    dots
      .join(broadcast(norms.withColumnRenamed("g", "group_a")
        .withColumnRenamed("_nn", "_na")), "group_a")
      .join(broadcast(norms.withColumnRenamed("g", "group_b")
        .withColumnRenamed("_nn", "_nb")), "group_b")
      .select(col("group_a"), col("group_b"),
        when(col("_na") > 0 && col("_nb") > 0,
          round(col("_dot").cast("double") /
            nullif(sqrt(col("_na").cast("double"))
              * sqrt(col("_nb").cast("double")), lit(0.0)), 6))
          .as("cos_r"))
  }

  /** Simplified (centroid-based) silhouette per cell over cosine
    * distance: with s₁ = sim to the nearest centroid (the assigned
    * cell) and s₂ = sim to the runner-up, a = 1−s₁ ≤ b = 1−s₂ and
    * s = (b−a)/max(a,b) = (s₁−s₂)/(1−s₂) — the O(n·k)
    * cluster-quality readout that replaces the O(n²) full silhouette
    * at corpus scale (Hruschka et al.'s simplified form; the validity
    * gate for semantic-dedup cells, q115/q33). Point terms are
    * 12-dp-rounded + DECIMAL-summed per cell so the mean is
    * reduction-order independent; emits (cid, n, mean_sil_r).
    *
    * Shape: one broadcast-centroid pass (the assignCells join),
    * row_number over the per-vector k-row sim set, one hash-agg. */
  def simplifiedSilhouette(collection: DataFrame,
      centroids: DataFrame): DataFrame = {
    val c = broadcast(centroids
      .select(col("vec_id").as("cid"), col("embedding").as("c_emb")))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cid").asc)
    val ranked = collection.crossJoin(c)
      .withColumn("csim", cosine_sim(col("embedding"), col("c_emb")))
      .filter(col("csim").isNotNull)
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") <= 2)
    val top2 = ranked.groupBy(col("vec_id"))
      .agg(max(when(col("crn") === 1, col("cid"))).as("cid"),
        max(when(col("crn") === 1, col("csim"))).as("_s1"),
        max(when(col("crn") === 2, col("csim"))).as("_s2"))
      .where(col("_s2").isNotNull)
    top2
      .withColumn("_sil", when(lit(1.0) - col("_s2") > 0,
        (col("_s1") - col("_s2")) / (lit(1.0) - col("_s2"))))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"),
        round(sum(round(col("_sil"), 12).cast("decimal(28,12)"))
          .cast("double") / count(col("_sil")), 6).as("mean_sil_r"))
  }

  /** Davies–Bouldin cluster-validity profile over cosine distance:
    * per-cell scatter Sᵢ = mean(1 − sim to own centroid), pairwise
    * centroid separation M_ij = 1 − cos(cᵢ, cⱼ), and each cell's worst
    * ratio Rᵢ = max_{j≠i} (Sᵢ+Sⱼ)/M_ij — lower is better-separated;
    * the global DB index (mean of Rᵢ) rides along on every row. The
    * k×k centroid-pair frame is bounded (k ≪ n); scatters are
    * 12-dp-DECIMAL-summed before the one division, so the max's
    * argument set is engine-deterministic. Emits
    * (cid, n, scatter_r, r_max_r, db_r) — the per-cell diagnosis plus
    * the headline index. */
  def daviesBouldin(collection: DataFrame,
      centroids: DataFrame): DataFrame = {
    val c = broadcast(centroids
      .select(col("vec_id").as("cid"), col("embedding").as("c_emb")))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cid").asc)
    val assigned = collection.crossJoin(c)
      .withColumn("csim", cosine_sim(col("embedding"), col("c_emb")))
      .filter(col("csim").isNotNull)
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") === 1)
    val scat = assigned.groupBy(col("cid"))
      .agg(count(lit(1)).as("n"),
        (sum(round(lit(1.0) - col("csim"), 12).cast("decimal(28,12)"))
          .cast("double") / count(lit(1))).as("_s"))
    val ci = centroids.select(col("vec_id").as("_ci"),
      col("embedding").as("_ei"))
    val cj = centroids.select(col("vec_id").as("_cj"),
      col("embedding").as("_ej"))
    val sep = ci.crossJoin(broadcast(cj))
      .where(col("_ci") =!= col("_cj"))
      .select(col("_ci"), col("_cj"),
        (lit(1.0) - cosine_sim(col("_ei"), col("_ej"))).as("_m"))
      .where(col("_m").isNotNull)
    val si = scat.select(col("cid").as("_ci"), col("_s").as("_si"))
    val sj = scat.select(col("cid").as("_cj"), col("_s").as("_sj"))
    // degenerate centroid sets must be VISIBLE, not silently shrunk:
    // a zero separation (duplicate/identical-direction centroids)
    // makes the cell's worst ratio +inf — emitted as NULL r_max_r
    // rather than dropping the pair and understating R_i; a cell with
    // no other centroid at all (k = 1) gets NULL via the left join;
    // and the global index is NULL whenever any R_i is undefined
    val rmax = sep.join(broadcast(si), Seq("_ci"))
      .join(broadcast(sj), Seq("_cj"))
      .groupBy(col("_ci").as("cid"))
      .agg(when(sum(when(col("_m") <= 0, 1L).otherwise(0L)) === 0,
        max((col("_si") + col("_sj")) / col("_m"))).as("_rmax"))
    val joined = scat.join(rmax, Seq("cid"), "left")
    val db = joined.agg(
      (sum(round(col("_rmax"), 12).cast("decimal(28,12)"))
        .cast("double") / count(lit(1))).as("_db"),
      sum(when(col("_rmax").isNull, 1L).otherwise(0L)).as("_nbad"))
    joined.crossJoin(broadcast(db))
      .select(col("cid"), col("n"), round(col("_s"), 6).as("scatter_r"),
        round(col("_rmax"), 6).as("r_max_r"),
        round(when(col("_nbad") === 0, col("_db")), 6).as("db_r"))
  }

  /** Embedding-isotropy audit: the mean pairwise cosine over ALL
    * vector pairs, in closed form — Σ_{i≠k} v̂ᵢ·v̂ₖ = ‖Σv̂‖² − Σ‖v̂ᵢ‖²,
    * so ONE pass over n vectors replaces the n² pair join entirely.
    * A healthy isotropic embedding space has mean pairwise cosine ≈ 0;
    * a large positive value is the anisotropy/"cone" pathology that
    * silently inflates every cosine-based dedup/retrieval score (the
    * systemic counterpart of q331's per-vector norm health).
    *
    * Per-vector norms are left-fold chains (the q34 convention —
    * bit-identical cross-engine); per-dim sums of normalized
    * components and both quadratic reductions are 12-dp-rounded
    * DECIMAL sums (order-independent). Zero-norm vectors are
    * excluded. Returns one row: n, sum_sq_r, mean_pair_cos_r. */
  def isotropyAudit(collection: DataFrame): DataFrame = {
    def t12(c: org.apache.spark.sql.Column) =
      round(c, 12).cast("decimal(28,12)")
    val withN = collection.select(
        expr("cast(embedding as array<double>)").as("e"),
        expr("sqrt(aggregate(cast(embedding as array<double>), 0D," +
          " (a, y) -> a + y * y))").as("_nrm"))
      .where(col("_nrm") > 0)
      .localCheckpoint() // consumed by the dim sums AND the count/norm agg
    val dimSums = withN
      .select(posexplode(col("e")).as(Seq("dim", "v")), col("_nrm"))
      .groupBy(col("dim"))
      .agg(sum(t12(col("v") / col("_nrm"))).cast("double").as("_s"))
    val ss = dimSums.agg(sum(t12(col("_s") * col("_s")))
      .cast("double").as("_ss"))
    val nn = withN.agg(count(lit(1)).as("n"),
      // Σ‖v̂‖²: each ≈ 1 but NOT exactly (float fold) — summed, not
      // assumed, so the closed form stays an identity
      sum(t12(expr("aggregate(transform(e, y -> y / _nrm), 0D," +
        " (a, y) -> a + y * y)"))).cast("double").as("_nn"))
    nn.crossJoin(broadcast(ss))
      .select(col("n"), round(col("_ss"), 6).as("sum_sq_r"),
        round(when(col("n") >= 2, (col("_ss") - col("_nn"))
          / (col("n").cast("double") * (col("n").cast("double") - 1))),
          6).as("mean_pair_cos_r"))
  }

  /** Effective dimensionality of an embedding collection by the
    * participation ratio of the (uncentered) second-moment spectrum:
    * PR = tr(M)² / ‖M‖_F² with M_jk = Σᵢ v_ij·v_ik — between 1
    * (all vectors on one line) and d (perfectly isotropic); the
    * "how many dimensions are actually carrying signal" audit that
    * catches rank collapse long before retrieval quality shows it.
    * ‖M‖_F² = Σλ² and tr(M) = Σλ without any eigendecomposition.
    *
    * Shape: the d² moment matrix comes from a MAP-SIDE per-vector
    * product fan-out (chained posexplode generators: d² rows per
    * vector, d = 64 — no self-join; partial aggregation collapses
    * each partition to ≤ d² rows before the (j, k) hash-agg shuffle).
    * Generators stay inside whole-stage codegen, unlike nested
    * transform lambdas (interpreted) — the lambda form measured 16.4 s
    * isolated at sf0.1. Products and the two quadratic reductions are
    * 12-dp DECIMAL sums. The input is round-robin rebalanced BEFORE
    * the fan-out: per-vector work is O(d²) BigDecimal roundings, so a
    * small single-file scan (one partition) would otherwise serialize
    * the whole matrix build on one core (measured 14 s single-task vs
    * ~1 s rebalanced at sf0.1; at real scale many input splits already
    * provide this parallelism and the tiny extra shuffle is noise).
    * Returns one row: d, trace_r, fro2_r, pr_r. */
  def participationRatio(collection: DataFrame): DataFrame = {
    def t12(c: org.apache.spark.sql.Column) =
      round(c, 12).cast("decimal(28,12)")
    val m = secondMomentMatrix(collection)
      .localCheckpoint() // consumed by trace AND Frobenius reductions
    val tr = m.where(col("j") === col("k"))
      .agg(sum(t12(col("_m"))).cast("double").as("_tr"),
        count(lit(1)).as("d"))
    val fro = m.agg(sum(t12(col("_m") * col("_m")))
      .cast("double").as("_f2"))
    tr.crossJoin(broadcast(fro))
      .select(col("d"), round(col("_tr"), 6).as("trace_r"),
        round(col("_f2"), 6).as("fro2_r"),
        round(when(col("_f2") > 0,
          col("_tr") * col("_tr") / col("_f2")), 6).as("pr_r"))
  }

  /** The (j, k) second-moment matrix build behind
    * [[participationRatio]] — exposed pre-checkpoint so PlanSpec can
    * pin the generator/rebalance/partial-agg shape that the
    * localCheckpoint otherwise truncates out of the final plan. */
  private[graft] def secondMomentMatrix(collection: DataFrame): DataFrame = {
    val shufflePartitions =
      collection.sparkSession.sessionState.conf.numShufflePartitions
    // r15: the former chained-posexplode fan-out pushed n·d² rows
    // through codegen and a d²-group hash-agg probe each (the d² row
    // universe per vector only existed to feed sum(t12(p))); the
    // [[graft.expr.MomentMatrix]] typed aggregate folds each row's
    // upper triangle in one primitive loop on the SAME 12-dp decimal
    // grid (t12 per product, order-independent exact sums — values
    // bit-identical, MomentParitySpec pins it) and mirrors j > k on
    // output. The rebalance stays: per-row work is O(d²) BigDecimal
    // roundings, so a single-file scan would serialize the build.
    collection
      .select(expr("cast(embedding as array<double>)").as("e"))
      .repartition(shufflePartitions)
      .agg(graft.expr.MomentMatrix.moment_matrix(col("e")).as("_mm"))
      .select(explode(col("_mm")).as("_c"))
      .select(col("_c.j").as("j"), col("_c.k").as("k"),
        col("_c.m").as("_m"))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR'98): from the top-`poolK` cosine candidates of one query
    * vector, greedily select `selectK` items maximizing
    *   MMR(d) = λ·rel(d) − (1−λ)·max_{s ∈ selected} sim(d, s)
    * — the diversified top-k every retrieval stack bolts onto a raw
    * similarity ranking (pure top-k returns near-duplicates; MMR
    * trades relevance for coverage at rate λ).
    *
    * Shape: the DISTRIBUTED work is exactly a [[cosineTopK]]-class
    * scan (one broadcast query against the collection, top-poolK);
    * everything after — the poolK² similarity matrix and the selectK
    * greedy steps — lives on the localCheckpointed ≤poolK-row pool,
    * so the fixed-K recursion (the Markov.removalEffects posture)
    * costs nothing at any corpus size. All greedy argmaxes break ties
    * by id ascending; λ and (1.0 − λ) are evaluated as the same
    * doubles in both engines (never a pre-simplified literal — 1.0 −
    * 0.7 is NOT the double 0.3). Returns one row per step: step,
    * vec_id, rel_r, maxsim_r, mmr_r. */
  def mmrRerank(collection: DataFrame, queryId: Long, poolK: Int,
      selectK: Int, lam: Double): DataFrame = {
    require(poolK >= selectK && selectK >= 1, "need poolK >= selectK >= 1")
    val q = broadcast(collection.where(col("vec_id") === queryId)
      .select(col("embedding").as("_qe")))
    val pool = collection.where(col("vec_id") =!= queryId)
      .crossJoin(q)
      .select(col("vec_id"), col("embedding"),
        cosine_sim(col("embedding"), col("_qe")).as("_rel"))
      .where(col("_rel").isNotNull)
      .orderBy(col("_rel").desc, col("vec_id"))
      .limit(poolK)
      .localCheckpoint() // tiny; consumed by the sim matrix + every step
    val a = pool.select(col("vec_id").as("_ia"),
      col("embedding").as("_ea"))
    val b = pool.select(col("vec_id").as("_ib"),
      col("embedding").as("_eb"))
    val sims = a.crossJoin(b).where(col("_ia") =!= col("_ib"))
      .select(col("_ia"), col("_ib"),
        cosine_sim(col("_ea"), col("_eb")).as("_sim"))
      .localCheckpoint() // poolK² rows; consumed by selectK − 1 steps
    val cand = pool.select(col("vec_id"), col("_rel"))
    val mmr = lit(lam) * col("_rel") -
      (lit(1.0) - lit(lam)) * col("_maxsim")
    var sel: DataFrame = null
    for (step <- 1 to selectK) {
      val remaining =
        if (sel == null) cand.withColumn("_maxsim", lit(0.0))
        else {
          val chosen = sel.select(col("vec_id").as("_ib"))
          cand.join(broadcast(sel.select(col("vec_id"))), Seq("vec_id"),
              "left_anti")
            .join(sims.join(broadcast(chosen), Seq("_ib"))
              .groupBy(col("_ia").as("vec_id"))
              .agg(max(col("_sim")).as("_maxsim")), Seq("vec_id"))
        }
      // localCheckpoint each 1-row pick: step i's plan references every
      // earlier step (anti-join + maxsim), and the final union references
      // all of them — without materialization the tiny subplans re-execute
      // combinatorially (measured 4.6 s -> ~1 s at sf0.1)
      val pick = remaining.withColumn("_mmr", mmr)
        .orderBy(col("_mmr").desc, col("vec_id")).limit(1)
        .select(lit(step).as("step"), col("vec_id"), col("_rel"),
          col("_maxsim"), col("_mmr"))
        .localCheckpoint()
      sel = if (sel == null) pick else sel.unionByName(pick)
    }
    sel.select(col("step"), col("vec_id"),
      round(col("_rel"), 9).as("rel_r"),
      round(col("_maxsim"), 9).as("maxsim_r"),
      round(col("_mmr"), 9).as("mmr_r"))
  }

  /** Top eigenpair of the embedding second-moment matrix by POWER
    * ITERATION — the first principal direction of the corpus (what
    * [[participationRatio]] summarizes in aggregate, resolved into an
    * actual axis): v ← M·v / ‖M·v‖ from the uniform start 1/√d,
    * `iters` times; λ is the final Rayleigh quotient vᵀMv.
    *
    * Shape: the ONLY data-sized work is the one [[secondMomentMatrix]]
    * pass (O(n·d²) products, one hash-agg); the iteration itself runs
    * DRIVER-LOCAL on the collected d²-row matrix ([[powerIterLocal]] —
    * the MLlib Gramian posture), replacing the former per-step
    * localCheckpoint chain whose ~0.35 s/step fixed cost dominated the
    * family's wall time. Determinism: each matrix·vector product term
    * and each squared-norm term is 12-dp-rounded onto DECIMAL(28,12)
    * before its order-independent sum — the local replay executes the
    * same Round/Cast calls Spark codegen would, so both engines walk
    * the exact same trajectory (the sign of v is therefore also
    * identical — no sign convention needed). Returns d rows: j,
    * loading_r (6 dp), lambda_r (same value on every row). */
  def topEigen(collection: DataFrame, iters: Int = 8): DataFrame = {
    require(iters >= 1, "need at least one power iteration")
    val sp = collection.sparkSession
    import sp.implicits._
    val (v, lam) = powerIterLocal(collectMoment(collection), iters)
    val lamR = round6Local(lam)
    v.map { case (j, vj) => (j, round6Local(vj), lamR) }.toSeq
      .toDF("j", "loading_r", "lambda_r")
  }

  /** Spark's `round(col, 12).cast("decimal(28,12)")` pipeline replayed
    * on the driver, call for call: Round(double) goes through the
    * shortest-repr `BigDecimal.valueOf(double)` then HALF_UP setScale
    * back to double, and the Cast re-parses THAT rounded double the
    * same way — two steps, not one, because the decimal→double→decimal
    * round-trip is itself part of the trajectory both engines walk. */
  private def t12Local(x: Double): java.math.BigDecimal = {
    val r = java.math.BigDecimal.valueOf(x)
      .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue()
    java.math.BigDecimal.valueOf(r)
      .setScale(12, java.math.RoundingMode.HALF_UP)
  }

  /** Spark's `round(col, 6)` on a double, replayed on the driver. */
  private def round6Local(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** The ONE data-sized pass of the eigen family, collected: d² rows,
    * bounded by the embedding dimension (64² = 4096 here; ≤ 1M even at
    * d = 1024), never by the corpus — the MLlib posture
    * (RowMatrix.computePrincipalComponents collects the Gramian and
    * eigensolves locally). This collect is deliberate and scale-safe:
    * at 100 TB the matrix is still d². */
  private def collectMoment(collection: DataFrame)
      : Array[(Int, Int, Double)] = {
    val rows = secondMomentMatrix(collection).collect()
    val cap = collection.sparkSession.conf.get(
      "spark.graft.driverLocal.momentCap", MomentCap.toString).toInt
    require(rows.length <= cap, s"moment matrix has ${rows.length}" +
      s" entries > cap $cap — the eigen recursion is driver-local" +
      " on the d² Gramian, which must stay dimension-bounded (not" +
      " data-sized)")
    rows.map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
  }

  /** Default cap on collected moment-matrix entries for the
    * driver-local eigen recursions: d² by contract (embedding
    * dimension, never rows) — 2048² headroom; an unbounded caller
    * fails loudly here instead of OOMing the driver. Conf-gated via
    * `spark.graft.driverLocal.momentCap`. */
  val MomentCap: Int = 1 << 22

  /** Driver-local power iteration over the collected moment matrix —
    * the round-13 replacement for the per-step localCheckpoint chain
    * (each step was a d-row broadcast join whose ~0.35 s checkpoint
    * floor dominated the family's wall time; 12+ steps of pure fixed
    * cost). The trajectory is BIT-IDENTICAL to the distributed form:
    * every product is 12-dp-rounded through [[t12Local]] (the exact
    * Round+Cast calls Spark codegen executes), partial sums are exact
    * decimals (order-independent), norms/divisions are the same IEEE
    * doubles — so the DuckDB oracle's unrolled 12-dp CTE chain sees
    * the same values it always did. Returns (sorted (j, v_j), λ). */
  private def powerIterLocal(m: Array[(Int, Int, Double)], iters: Int)
      : (Array[(Int, Double)], Double) = {
    val dims = m.map(_._1).distinct.sorted
    var v: Map[Int, Double] =
      dims.map(j => j -> (1.0 / math.sqrt(dims.length.toDouble))).toMap
    val byJ = m.groupBy(_._1)
    def mv(vec: Map[Int, Double]): Map[Int, Double] =
      byJ.map { case (j, rows) =>
        var acc = java.math.BigDecimal.ZERO
        rows.foreach { case (_, k, mjk) =>
          vec.get(k).foreach(vk => acc = acc.add(t12Local(mjk * vk)))
        }
        j -> acc.doubleValue
      }
    var u: Map[Int, Double] = Map.empty
    for (_ <- 1 to iters) {
      u = mv(v)
      var nacc = java.math.BigDecimal.ZERO
      u.valuesIterator.foreach(uj => nacc = nacc.add(t12Local(uj * uj)))
      val nrm = math.sqrt(nacc.doubleValue)
      v = u.map { case (j, uj) => j -> uj / nrm }
    }
    val uf = mv(v)
    var lacc = java.math.BigDecimal.ZERO
    v.foreach { case (j, vj) =>
      uf.get(j).foreach(ufj => lacc = lacc.add(t12Local(vj * ufj)))
    }
    (dims.map(j => j -> v(j)), lacc.doubleValue)
  }

  /** Hubness audit of a kNN graph (Radovanović et al. 2010): the
    * k-occurrence N_k(x) = how many vectors list x among their top-k
    * neighbors. High-dimensional spaces concentrate: a few points
    * become HUBS (N_k ≫ k) while many become anti-hubs (N_k = 0) —
    * retrieval quality silently degrades because the same few
    * neighbors answer every query. The audit takes a PRE-COMPUTED
    * neighbor frame (q_id, neighbor_id) so it composes with
    * [[cosineTopK]] at audit scale and [[ivfTopK]]/[[routedTopK]] at
    * production scale, and reduces it to one row of distribution
    * facts.
    *
    * All moments are sums of exact integers on DECIMAL(38,0) (N_k³
    * stays exact far past 2⁶³); the skewness
    * g₁ = (m₃ − 3m₁m₂ + 2m₁³)/(m₂ − m₁²)^{3/2} is one double
    * expression of those exact sums — engine-deterministic with no
    * intermediate rounding. Returns one row: n, mean_nk_r, skew_r
    * (NULL on zero variance), max_nk, n_hubs (N_k ≥ `hubAt`),
    * n_antihubs (N_k = 0). */
  def hubnessAudit(ids: DataFrame, neighbors: DataFrame,
      hubAt: Long): DataFrame = {
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val nk = ids.select(col("vec_id"))
      .join(neighbors.groupBy(col("neighbor_id").as("vec_id"))
        .agg(count(lit(1)).as("_nk")), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("_nk"), lit(0L)).as("_nk"))
    val m = nk.agg(count(lit(1)).as("n"),
      sum(d38(col("_nk"))).as("_s1"),
      sum(d38(col("_nk")) * col("_nk")).as("_s2"),
      sum(d38(col("_nk")) * col("_nk") * col("_nk")).as("_s3"),
      max(col("_nk")).as("max_nk"),
      sum(when(col("_nk") >= hubAt, 1L).otherwise(0L)).as("n_hubs"),
      sum(when(col("_nk") === 0, 1L).otherwise(0L)).as("n_antihubs"))
    val nD = col("n").cast("double")
    val (m1, m2, m3) = (col("_s1").cast("double") / nD,
      col("_s2").cast("double") / nD, col("_s3").cast("double") / nD)
    val vr = m2 - m1 * m1
    m.select(col("n"), round(m1, 6).as("mean_nk_r"),
      round(when(vr > 0,
        (m3 - lit(3.0) * m1 * m2 + lit(2.0) * m1 * m1 * m1)
          / pow(vr, 1.5)), 6).as("skew_r"),
      col("max_nk"), col("n_hubs"), col("n_antihubs"))
  }

  /** kNN-graph reciprocity: the fraction of directed kNN edges (a→b)
    * whose reverse (b→a) is also a kNN edge. Low reciprocity is the
    * edge-level face of hubness ([[hubnessAudit]]): hubs are listed by
    * everyone but list only their own neighborhood back. Takes the
    * PRE-COMPUTED neighbor frame (q_id, neighbor_id) so it composes
    * with [[cosineTopK]] at audit scale and [[ivfTopK]] at production
    * scale; the work is one self-equi-join on the n·k edge frame —
    * never the corpus. Returns one row:
    * (n_edges, n_mutual, reciprocity_r). */
  def knnReciprocity(neighbors: DataFrame): DataFrame = {
    val e = neighbors.select(col("q_id"), col("neighbor_id"))
      .localCheckpoint() // 2 consumers (count + both join sides)
    val mutual = e.join(
      e.select(col("neighbor_id").as("q_id"), col("q_id").as("neighbor_id")),
      Seq("q_id", "neighbor_id"), "left_semi")
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(mutual.agg(count(lit(1)).as("n_mutual"))))
      .select(col("n_edges"), col("n_mutual"),
        round(col("n_mutual").cast("double")
          / col("n_edges").cast("double"), 6).as("reciprocity_r"))
  }

  /** Local intrinsic dimensionality (Levina–Bickel / Amsaleg MLE) from
    * each query's kNN distances: LID(x) = −k / Σ_{i≤k} ln(d_i / d_k),
    * summarized over the corpus — the "how many effective dimensions
    * does the neighborhood have" number that predicts ANN index
    * behavior better than the ambient d. Takes the (q_id, rn, sim_r)
    * frame of [[cosineTopK]]; distances are d = 1 − sim clamped to
    * ≥ 1e-12 (exact-duplicate neighbors would otherwise feed ln(0) —
    * the adExponentiality clamp discipline, mirrored in the oracle).
    * Per-query terms are 12-dp-gridded; queries whose neighborhood has
    * zero spread (Σ ln(d/d_k) = 0) have no MLE and are excluded,
    * counted in n_degenerate. Everything after the kNN frame is one
    * hash-agg on n·k rows. Returns one row:
    * (n_queries, n_degenerate, mean_lid_r, min_lid_r, max_lid_r). */
  def lidMle(knn: DataFrame): DataFrame = {
    def t12(c: org.apache.spark.sql.Column) =
      round(c, 12).cast("decimal(28,12)")
    val d = knn.select(col("q_id"),
      greatest(lit(1.0) - col("sim_r"), lit(1e-12)).as("_d"))
    val per = d.groupBy(col("q_id")).agg(
        count(lit(1)).cast("double").as("_kq"),
        max(col("_d")).as("_dk"),
        sum(t12(log(col("_d")))).cast("double").as("_sl"))
      .withColumn("_den",
        col("_sl") - col("_kq") * round(log(col("_dk")), 12))
      .withColumn("_lid",
        when(col("_den") < 0, -col("_kq") / col("_den")))
    per.agg(count(lit(1)).as("n_queries"),
        sum(when(col("_lid").isNull, 1L).otherwise(0L))
          .as("n_degenerate"),
        sum(t12(col("_lid"))).cast("double").as("_s"),
        sum(when(col("_lid").isNotNull, 1L).otherwise(0L)).as("_nd"),
        min(round(col("_lid"), 6)).as("min_lid_r"),
        max(round(col("_lid"), 6)).as("max_lid_r"))
      .select(col("n_queries"), col("n_degenerate"),
        round(col("_s") / col("_nd").cast("double"), 6).as("mean_lid_r"),
        col("min_lid_r"), col("max_lid_r"))
  }

  /** TOP-TWO eigenpairs of the second-moment matrix by power iteration
    * WITH DEFLATION — [[topEigen]] extended one axis: after (λ₁, v₁)
    * converges, the rank-one deflation M′ = M − λ₁·v₁v₁ᵀ runs the same
    * iteration for (λ₂, v₂). The d²-row matrix is built ONCE (the one
    * data-sized pass) and collected; deflation and both iteration
    * chains run driver-local ([[powerIterLocal]]). Same 12-dp-grid
    * trajectory discipline as [[topEigen]] (the deflated entries are
    * raw doubles computed with the identical left-associated
    * expression in both engines — their downstream products re-enter
    * the decimal grid). Returns d rows:
    * (j, loading1_r, loading2_r, lambda1_r, lambda2_r, dot12_r) —
    * dot12_r ≈ 0 is the built-in orthogonality audit. */
  def topTwoEigen(collection: DataFrame, iters: Int = 8): DataFrame = {
    require(iters >= 1)
    val sp = collection.sparkSession
    import sp.implicits._
    val m = collectMoment(collection)
    val (v1, lam1) = powerIterLocal(m, iters)
    val v1m = v1.toMap
    // rank-one deflation on the collected matrix: raw doubles with the
    // identical left-associated expression both engines evaluate
    // (m − ((λ₁·v_j)·v_k)); downstream products re-enter the 12-dp grid
    val defl = m.map { case (j, k, mjk) =>
      (j, k, mjk - lam1 * v1m(j) * v1m(k))
    }
    val (v2, lam2) = powerIterLocal(defl, iters)
    val v2m = v2.toMap
    var dacc = java.math.BigDecimal.ZERO
    v1.foreach { case (j, a) =>
      v2m.get(j).foreach(b => dacc = dacc.add(t12Local(a * b)))
    }
    val (l1R, l2R, dotR) =
      (round6Local(lam1), round6Local(lam2), round6Local(dacc.doubleValue))
    v1.map { case (j, a) =>
      (j, round6Local(a), round6Local(v2m(j)), l1R, l2R, dotR)
    }.toSeq.toDF("j", "loading1_r", "loading2_r", "lambda1_r",
      "lambda2_r", "dot12_r")
  }

  /** Anisotropy-direction audit: the distribution of cos(x, v₁) over
    * the corpus, v₁ = [[topEigen]]'s principal axis — embeddings from
    * undertrained/collapsed encoders form a CONE around one direction
    * (Ethayarajh 2019), and retrieval degrades because every pair looks
    * similar. One d²-pass + power iteration for v₁ (bounded), then ONE
    * corpus pass for the per-vector cosines (posexplode + broadcast
    * d-row join — codegen, no HOF lambda). Returns one row:
    * (n, mean_cos_r, mean_abs_cos_r, frac_abs_gt_r at `threshold`). */
  def anisotropyDirection(collection: DataFrame, iters: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    def t12(c: org.apache.spark.sql.Column) =
      round(c, 12).cast("decimal(28,12)")
    val sp = collection.sparkSession
    import sp.implicits._
    // v₁ comes from the driver-local eigensolve (same exact doubles the
    // distributed chain produced); only the per-vector cosine pass —
    // the data-sized work — stays distributed
    val (v1, _) = powerIterLocal(collectMoment(collection), iters)
    val v = v1.toSeq.toDF("j", "_v")
    val ex = collection
      .repartition(collection.sparkSession.sessionState.conf
        .numShufflePartitions)
      .select(col("vec_id"), posexplode(col("embedding"))
        .as(Seq("j", "_x")))
      .select(col("vec_id"), col("j"), col("_x").cast("double").as("_x"))
    val per = ex.join(broadcast(v), Seq("j"))
      .groupBy(col("vec_id"))
      .agg(sum(t12(col("_x") * col("_v"))).cast("double").as("_dot"),
        sqrt(sum(t12(col("_x") * col("_x"))).cast("double")).as("_nrm"))
      .select(round(col("_dot") / nullif(col("_nrm"), lit(0.0)), 12)
        .as("_cos"))
    per.agg(count(lit(1)).as("n"),
        sum(t12(col("_cos"))).cast("double").as("_s"),
        sum(t12(abs(col("_cos")))).cast("double").as("_sa"),
        sum(when(abs(col("_cos")) > threshold, 1L).otherwise(0L))
          .as("_ngt"))
      .select(col("n"),
        round(col("_s") / col("n").cast("double"), 6).as("mean_cos_r"),
        round(col("_sa") / col("n").cast("double"), 6)
          .as("mean_abs_cos_r"),
        round(col("_ngt").cast("double") / col("n").cast("double"), 6)
          .as("frac_abs_gt_r"))
  }

  /** k-center coreset by GREEDY FARTHEST-POINT traversal (Gonzalez
    * 1985, the 2-approximation): start from the smallest vec_id, then
    * k−1 times add the point farthest (cosine distance) from its
    * nearest chosen center — the diversity-maximizing data-selection
    * pass ("cover the embedding space with k exemplars") a curation
    * pipeline runs before labeling budgets. Each round is ONE corpus
    * pass (broadcast new center → least() running min-distance →
    * argmax via TakeOrderedAndProject), min-distances
    * localCheckpointed per round; k is small and fixed. Distances are
    * 9-dp-pinned (the cosineTopK grid); argmax ties break on vec_id.
    * Returns k rows: (step, center_id, radius_r — the covering radius
    * max-min-distance AFTER adding that center). */
  def kCenterCoreset(collection: DataFrame, k: Int): DataFrame = {
    require(k >= 1)
    val first = collection.orderBy(col("vec_id").asc).limit(1)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    def distTo(center: DataFrame) = collection
      .crossJoin(broadcast(center.select(col("embedding").as("_cemb"))))
      .select(col("vec_id"), col("embedding"),
        coalesce(round(lit(1.0) - cosine_sim(col("embedding"),
          col("_cemb")), 9), lit(1.0)).as("_d"))
    var md = distTo(first).localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    out += first.crossJoin(broadcast(
        md.agg(max(col("_d")).as("_r"))))
      .select(lit(1).as("step"), col("vec_id").as("center_id"),
        round(col("_r"), 9).as("radius_r")).localCheckpoint()
    for (i <- 2 to k) {
      val next = md.orderBy(col("_d").desc, col("vec_id").asc).limit(1)
        .select(col("vec_id"), col("embedding")).localCheckpoint()
      val nd = distTo(next)
        .select(col("vec_id"), col("embedding"), col("_d").as("_dn"))
      md = md.drop("embedding")
        .join(nd, Seq("vec_id"))
        .select(col("vec_id"), col("embedding"),
          least(col("_d"), col("_dn")).as("_d"))
        .localCheckpoint()
      out += next.crossJoin(broadcast(
          md.agg(max(col("_d")).as("_r"))))
        .select(lit(i).as("step"), col("vec_id").as("center_id"),
          round(col("_r"), 9).as("radius_r")).localCheckpoint()
    }
    out.reduce(_ unionByName _)
  }

  /** Hard-negative mining for contrastive training: for each anchor
    * vector, the k most-similar vectors with a DIFFERENT label — the
    * negatives a contrastive loss learns most from (easy negatives are
    * already far; false positives near the boundary are the signal).
    *
    * Same audit-scale contract as [[cosineTopK]] (the anchor side is
    * broadcast under the same valve; the label-mismatch predicate rides
    * the join condition so same-label pairs never materialize). At
    * production scale, mine within [[ivfTopK]] candidate cells instead
    * and anti-join the label afterward — the top-k-per-anchor window is
    * rank-limited either way (WindowGroupLimit keeps k rows per mapper
    * before the shuffle). Returns q_id, q_label, rn, neighbor_id,
    * n_label, sim_r (ties by neighbor id ascending). */
  def hardNegatives(collection: DataFrame, k: Int): DataFrame = {
    val maxQ = broadcastMaxQueries(collection)
    val nQ = collection.count()
    require(nQ <= maxQ,
      s"hardNegatives broadcasts the anchor side, but it has $nQ rows " +
        s"(> spark.graft.similarity.broadcastMaxQueries = $maxQ). " +
        "Mine within ivfTopK cells for large collections.")
    val q = broadcast(collection.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"), col("label").as("q_label")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    // round-robin the streamed side BEFORE the |collection|² fan-out:
    // a small single-file scan is ONE partition and would serialize
    // the whole pair volume on one core (the r10 q351 lesson)
    val shufflePartitions =
      collection.sparkSession.sessionState.conf.numShufflePartitions
    collection
      .select(col("vec_id").as("neighbor_id"), col("embedding"),
        col("label").as("n_label"))
      .repartition(shufflePartitions)
      .join(q, col("n_label") =!= col("q_label"))
      .withColumn("sim", cosine_sim(col("embedding"), col("q_emb")))
      .filter(col("sim").isNotNull)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("q_label"), col("rn"),
        col("neighbor_id"), col("n_label"),
        round(col("sim"), 9).as("sim_r"))
  }

  /** Diagonal-Mahalanobis embedding outliers: per-dimension corpus
    * mean/std (ONE d-bounded hash-agg), then score(x) = Σ_d z_d² — the
    * covariance-diagonal approximation that needs no matrix inverse and
    * stays a linear scan at any corpus size. The fan-out is
    * posexplode + hash-agg (codegen), NOT a per-row HOF fold (the r10
    * interpreted-lambda trap); each z² term rides the 12-dp DECIMAL
    * grid so the per-vector sum is order-independent and
    * engine-identical. Zero-variance dimensions contribute 0 (nullif
    * guard), not a div-by-zero. Returns topK rows: rn, vec_id,
    * score_r (6 dp; ties by vec_id ascending). */
  def mahalanobisDiag(collection: DataFrame, topK: Int): DataFrame = {
    def t12(c: org.apache.spark.sql.Column) =
      round(c, 12).cast("decimal(28,12)")
    val x = collection.select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("_j", "_x")))
    // population mean/std via the moment identity on t12-gridded sums
    // (order-independent exact DECIMAL reductions, engine-identical)
    val stats = x.groupBy(col("_j"))
      .agg(count(lit(1)).cast("double").as("_n"),
        sum(t12(col("_x"))).cast("double").as("_s1"),
        sum(t12(col("_x") * col("_x"))).cast("double").as("_s2"))
      .select(col("_j"), (col("_s1") / col("_n")).as("_mu"),
        sqrt(greatest(col("_s2") / col("_n")
          - (col("_s1") / col("_n")) * (col("_s1") / col("_n")),
          lit(0.0))).as("_sd"))
    val z = x.join(broadcast(stats), Seq("_j"))
      .withColumn("_z", (col("_x") - col("_mu"))
        / nullif(col("_sd"), lit(0.0)))
      .groupBy(col("vec_id"))
      .agg(sum(t12(coalesce(col("_z") * col("_z"), lit(0.0))))
        .cast("double").as("_s"))
    // global top-k via sort+limit (TakeOrderedAndProject — distributed
    // partial top-k per partition), then rank the ≤topK frame; never a
    // corpus-sized unpartitioned window (the hbos idiom)
    z.orderBy(col("_s").desc, col("vec_id").asc)
      .limit(topK)
      .select(col("vec_id"), round(col("_s"), 6).as("score_r"))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("score_r").desc, col("vec_id").asc)))
      .select(col("rn"), col("vec_id"), col("score_r"))
  }

  /** Contrastive TRIPLET mining: for every anchor, the most-similar
    * SAME-label vector (the positive) and the most-similar
    * DIFFERENT-label vector (the hard negative) from ONE pair scan —
    * margin = sim(anchor, pos) − sim(anchor, neg) is the quantity a
    * triplet/InfoNCE loss pushes positive; anchors already violating
    * margin ≥ 0 are the curriculum front. Same audit-scale contract
    * as [[hardNegatives]] (broadcast valve, round-robin rebalance
    * before the fan-out); both sides of the pivot come from one
    * rank-limited window over the same pair frame (partitioned by
    * anchor AND side, so WindowGroupLimit bounds the shuffle).
    * Returns one row per anchor with both neighbors: anchor_id,
    * label, pos_id, sim_pos_r, neg_id, sim_neg_r, margin_r. */
  def tripletMining(collection: DataFrame): DataFrame = {
    val maxQ = broadcastMaxQueries(collection)
    val nQ = collection.count()
    require(nQ <= maxQ,
      s"tripletMining broadcasts the anchor side ($nQ rows > valve " +
        s"$maxQ); mine within ivfTopK cells for large collections.")
    val q = broadcast(collection.select(col("vec_id").as("_aid"),
      col("embedding").as("_aemb"), col("label").as("_albl")))
    val shufflePartitions =
      collection.sparkSession.sessionState.conf.numShufflePartitions
    val pairs = collection
      .select(col("vec_id").as("_nid"), col("embedding").as("_nemb"),
        col("label").as("_nlbl"))
      .repartition(shufflePartitions)
      .join(q, col("_nid") =!= col("_aid"))
      .withColumn("_sim", cosine_sim(col("_nemb"), col("_aemb")))
      .filter(col("_sim").isNotNull)
      .withColumn("_same", col("_nlbl") === col("_albl"))
    val w = Window.partitionBy(col("_aid"), col("_same"))
      .orderBy(col("_sim").desc, col("_nid").asc)
    val best = pairs.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
    val pos = best.filter(col("_same"))
      .select(col("_aid"), col("_albl").as("label"),
        col("_nid").as("pos_id"), round(col("_sim"), 9).as("sim_pos_r"))
    val neg = best.filter(!col("_same"))
      .select(col("_aid"), col("_nid").as("neg_id"),
        round(col("_sim"), 9).as("sim_neg_r"))
    pos.join(neg, Seq("_aid"))
      .select(col("_aid").as("anchor_id"), col("label"), col("pos_id"),
        col("sim_pos_r"), col("neg_id"), col("sim_neg_r"),
        round(col("sim_pos_r") - col("sim_neg_r"), 9).as("margin_r"))
  }

  /** Linear CKA between two dimension BLOCKS of one embedding table
    * (e.g. first vs second half): do the two sub-spaces encode the
    * same example geometry? With column-centered blocks X (n×d₁) and
    * Y (n×d₂),
    *   CKA = ‖YᵀX‖²_F / (‖XᵀX‖_F · ‖YᵀY‖_F)
    * — 1 iff the blocks agree up to rotation+scale. Computed from ONE
    * O(n·d²) cross-moment pass (the [[topEigen]] posture): the full
    * d×d second-moment grid S_ij = Σ vᵢvⱼ (12-dp terms) plus the mean
    * vector, centered as C_ij = S_ij − n·mᵢ·mⱼ, then three
    * block-Frobenius reductions on the d² grid. Returns one row:
    * n, cka_r, fxy2_r (‖YᵀX‖²_F), fxx_r, fyy_r. */
  def linearCkaBlocks(emb: DataFrame, idCol: String, vecCol: String,
      splitDim: Int): DataFrame = {
    require(splitDim >= 1)
    def t12(c: Column) = round(c, 12).cast("decimal(28,12)")
    val dims = emb.select(col(idCol).as("_id"),
        posexplode(col(vecCol)).as(Seq("_i", "_v")))
      .select(col("_id"), col("_i"), col("_v").cast("double").as("_v"))
      .localCheckpoint() // consumed by the moment grid AND the means
    val nF = emb.agg(count(lit(1)).as("_n"))
    val means = dims.groupBy(col("_i"))
      .agg(sum(t12(col("_v"))).cast("double").as("_sv"))
      .crossJoin(broadcast(nF))
      .select(col("_i"), col("_n"),
        (col("_sv") / col("_n").cast("double")).as("_m"))
    val s = dims.select(col("_id"), col("_i"), col("_v"))
      .join(dims.select(col("_id"), col("_i").as("_j"),
        col("_v").as("_w")), Seq("_id"))
      .groupBy(col("_i"), col("_j"))
      .agg(sum(t12(col("_v") * col("_w"))).cast("double").as("_s"))
    val c = s
      .join(broadcast(means), Seq("_i"))
      .join(broadcast(means.select(col("_i").as("_j"),
        col("_m").as("_mj"))), Seq("_j"))
      .select(col("_i"), col("_j"), col("_n"),
        (col("_s") - col("_n").cast("double") * col("_m")
          * col("_mj")).as("_c"))
    val blocks = c.groupBy(col("_n")).agg(
      sum(t12(when(col("_i") < splitDim && col("_j") >= splitDim,
        col("_c") * col("_c")).otherwise(lit(0.0))))
        .cast("double").as("_fxy2"),
      sum(t12(when(col("_i") < splitDim && col("_j") < splitDim,
        col("_c") * col("_c")).otherwise(lit(0.0))))
        .cast("double").as("_fxx2"),
      sum(t12(when(col("_i") >= splitDim && col("_j") >= splitDim,
        col("_c") * col("_c")).otherwise(lit(0.0))))
        .cast("double").as("_fyy2"))
    blocks.select(col("_n").as("n"),
      round(col("_fxy2")
        / (sqrt(col("_fxx2")) * sqrt(col("_fyy2"))), 6).as("cka_r"),
      round(col("_fxy2"), 6).as("fxy2_r"),
      round(sqrt(col("_fxx2")), 6).as("fxx_r"),
      round(sqrt(col("_fyy2")), 6).as("fyy_r"))
  }

  /** Wang–Isola (2020) alignment/uniformity of an embedding space on
    * a deterministic md5 sample (the contrastive-representation
    * quality pair): alignment = mean ‖x−y‖² over SAME-LABEL pairs
    * (lower = positives collapse together), uniformity =
    * ln(mean over all pairs of e^{−2‖x−y‖²}) (lower = points spread
    * over the sphere). Distances are exact 12-dp term sums over the
    * k²·d pair-dimension grid; exp runs on the pinned distance. The
    * audit-scale contract: k is constant (default 128); production
    * shards the sample. Returns one row: k_vecs, n_pairs,
    * n_pos_pairs, alignment_r, uniformity_r. */
  def uniformityAlignment(emb: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int = 128): DataFrame = {
    require(k >= 2)
    def t12(c: Column) = round(c, 12).cast("decimal(28,12)")
    val sample = emb.select(col(idCol).as("_id"),
        col(vecCol).as("_vec"), col(labelCol).as("_lab"),
        md5(col(idCol).cast("string")).as("_ord"))
      .orderBy(col("_ord")).limit(k)
      .select(col("_id"), col("_vec"), col("_lab"))
      .localCheckpoint() // k rows; both sides of the pair grid
    val a = sample.select(col("_id").as("_ia"), col("_vec").as("_va"),
      col("_lab").as("_la"))
    val b = sample.select(col("_id").as("_ib"), col("_vec").as("_vb"),
      col("_lab").as("_lb"))
    val dx = (col("_x").cast("double")
      - col("_vb")(col("_i")).cast("double"))
    val d2 = a.join(b, col("_ia") < col("_ib"))
      .select(col("_ia"), col("_ib"), col("_la"), col("_lb"),
        posexplode(col("_va")).as(Seq("_i", "_x")), col("_vb"))
      .select(col("_ia"), col("_ib"), col("_la"), col("_lb"),
        t12(dx * dx).as("_t"))
      .groupBy(col("_ia"), col("_ib"), col("_la"), col("_lb"))
      .agg(round(sum(col("_t")).cast("double"), 12).as("_d2"))
    d2.agg(count(lit(1)).as("n_pairs"),
        sum(when(col("_la") === col("_lb"), 1L).otherwise(0L))
          .as("n_pos_pairs"),
        sum(when(col("_la") === col("_lb"), t12(col("_d2")))
          .otherwise(lit(0).cast("decimal(28,12)"))).cast("double")
          .as("_sal"),
        sum(t12(exp(lit(-2.0) * col("_d2")))).cast("double")
          .as("_su"))
      .select(lit(k).as("k_vecs"), col("n_pairs"), col("n_pos_pairs"),
        round(when(col("n_pos_pairs") > 0,
          col("_sal") / col("n_pos_pairs").cast("double")), 6)
          .as("alignment_r"),
        round(log(col("_su") / col("n_pairs").cast("double")), 6)
          .as("uniformity_r"))
  }
}
