package graft.ext

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.SquaredDistance

/** PRODUCT QUANTIZATION for similarity search (EXT) — the memory scale
  * path beyond scalar quantization: split each `dims`-float embedding
  * into `m` contiguous sub-vectors, learn a small k-means codebook PER
  * SUBSPACE, and store each vector as its `m` nearest-sub-centroid ids —
  * `m` small codes (~1 B each at rest under parquet bit-packing;
  * 4 B in flight) instead of `4·dims` float bytes (Jégou, Douze, Schmid,
  * "Product Quantization for Nearest Neighbor Search", TPAMI 2011; the
  * PQ/ADC tier of the FAISS taxonomy). A query never reconstructs a
  * vector: its inner product against every sub-centroid is tabulated
  * ONCE (m·k driver-side doubles), and each stored code scores as m
  * table lookups + adds — Asymmetric Distance Computation.
  *
  * Everything is exactly engine-reproducible, the [[IvfIndex]] contract
  * applied per subspace: seeded-hash init (first k vectors by
  * `(md5(id), id)`), squared-L2 argmin with `(dist, cell)` tie-break,
  * micro-integer mean updates (`floor(x·1e6)` sums, two double
  * divisions), and ADC sums folded in fixed subspace order — so the full
  * train → encode → score → rank chain has a DuckDB oracle (dq162).
  *
  * 100 TB shape: training collects only `m·k` sub-centroids (driver-sized
  * model, like [[IvfIndex.fit]]), ONE exploded aggregation job per
  * Lloyd's iteration; encoding is MAP-ONLY (all m argmins over one row —
  * no shuffle, no join — routed plan-literal vs broadcast-kernel by the
  * `literalMaxK` budget); the scored scan reads the code relation
  * instead of floats (20–26× smaller parquet measured at m=16/dims=64,
  * `SCALE_PQ`), and ranking is the bounded-heap
  * [[graft.plans.TopKPerKeyExec]] — never a full sort. Compose with
  * [[IvfIndex]] cells for IVF-PQ (probe cells, then ADC inside them):
  * both sides are plain columns, so the composition is a filter.
  *
  * Reference anchor: the reference engine has no vector surface
  * (/root/reference/README.md:1-40 — proto→Avro projection only); this
  * module is the EXT training-data tier.
  */
object PqAnn {

  /** Per-subspace codebooks. `sub(j)` holds subspace j's surviving
    * `(cell, centroid)` pairs (empty Lloyd's cells die, so ids need not
    * be contiguous — lookups key on the id, never the position). The
    * kernel-path broadcasts are MEMOIZED per codebook instance (the
    * [[IvfIndex.matrixBroadcast]] rule — per-call re-broadcast
    * accumulates executor-held copies on long-lived stores whose cached
    * book encodes every append); `release()` destroys them. */
  final case class Codebook(dims: Int, m: Int,
      sub: Vector[Seq[(Int, Array[Double])]]) {
    require(m >= 1 && dims % m == 0,
      s"dims=$dims must split evenly into m=$m subspaces")
    def subDim: Int = dims / m

    @transient private var bcs:
      Array[org.apache.spark.broadcast.Broadcast[Array[Array[Double]]]] = _

    @transient private var denseBc:
      org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]] = _

    private[ext] def broadcastsFor(spark: org.apache.spark.sql.SparkSession)
        : Array[org.apache.spark.broadcast.Broadcast[Array[Array[Double]]]] =
      synchronized {
        if (bcs == null)
          bcs = sub.map(cs => IvfIndex.bcMatrix(spark, cs)).toArray
        bcs
      }

    /** The [[graft.functions.PqAdcDot]] kernel's dense id-indexed books
      * (`[m][maxCellId+1][subDim]`, dead Lloyd's cells as null slots —
      * a code never references one, it was never emitted), memoized per
      * instance like the per-subspace matrices. */
    private[ext] def denseBroadcastFor(spark: org.apache.spark.sql.SparkSession)
        : org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]] =
      synchronized {
        if (denseBc == null) {
          val arr = sub.map { cs =>
            val a = new Array[Array[Double]](cs.map(_._1).max + 1)
            cs.foreach { case (id, c) => a(id) = c }
            a
          }.toArray
          denseBc = spark.sparkContext.broadcast(arr)
        }
        denseBc
      }

    /** Destroy the memoized kernel broadcasts (safe to skip — they are
      * small and ContextCleaner reclaims unreferenced ones; call it on
      * the original instance when the book's lifetime is known over). */
    def release(): Unit = synchronized {
      if (bcs != null) { bcs.foreach(_.destroy()); bcs = null }
      if (denseBc != null) { denseBc.destroy(); denseBc = null }
    }
  }

  private def sliceCol(embCol: Column, j: Int, subDim: Int): Column =
    slice(embCol, j * subDim + 1, subDim)

  /** OPQ-LITE SUBSPACE BALANCING (Ge et al., "Optimized Product
    * Quantization", CVPR 2013 — the cheap deterministic cousin of the
    * learned rotation): contiguous slicing can hand one subspace all the
    * high-variance coordinates and another only noise, wasting half the
    * codebook budget. Sort dimensions by per-dimension variance
    * (descending) and DEAL them round-robin into the m subspaces —
    * subspace j receives variance ranks j, j+m, j+2m, …, so every
    * subspace carries one dimension from each variance stratum. A fixed
    * coordinate permutation is orthogonal, so ADC inner products over
    * permuted vectors equal the originals' exactly — recall can only
    * move through better codebook allocation.
    *
    * Bit-portable by construction: the variance ORDER is computed from
    * micro-integer sums (per-dim Σ⌊x·1e6⌋ and Σ⌊x²·1e6⌋, both exact
    * Longs) compared as exact BigInt `n·Σ⌊x²·1e6⌋·1e6 − (Σ⌊x·1e6⌋)²`
    * (both terms in micro² units) with ties to the
    * lower dimension — any engine re-derives the identical permutation
    * (the DuckDB oracle's HUGEINT arithmetic, dq177). One aggregation
    * over the corpus (m·dims driver longs), driver-side sort.
    *
    * Returns `perm` where OUTPUT position p reads INPUT dimension
    * `perm(p)` (0-based): rank r lands at position (r % m)·subDim + r/m.
    */
  def balancedPermutation(df: DataFrame, embCol: String, dims: Int,
      m: Int): Array[Int] = {
    val (sx, sxx, n) = varianceMicroSums(df, embCol)
    require(sx.length == dims,
      s"balancedPermutation: embeddings have ${sx.length} dims, not $dims")
    balancedPermutationFromSums(sx, sxx, n, dims, m)
  }

  /** The per-dimension micro-integer moment sums the variance ranking
    * is defined over — per-dim `Σ⌊x·1e6⌋` and `Σ⌊x²·1e6⌋` (exact
    * Longs) plus the row count. ONE aggregation over the corpus
    * (2·dims driver longs); also the store-persisted "variance
    * spectrum" behind [[IvfStore.permuteAdvisory]]. */
  def varianceMicroSums(df: DataFrame,
      embCol: String): (Seq[Long], Seq[Long], Long) = {
    val emb = col(embCol)
    val r = df.agg(
      graft.functions.VectorSumMicros.of(emb).as("sx"),
      graft.functions.VectorSumMicros.of(
        transform(emb, v => v.cast("double") * v.cast("double"))).as("sxx"),
      count(lit(1)).as("n")).head()
    (r.getSeq[Long](0), r.getSeq[Long](1), r.getLong(2))
  }

  /** [[balancedPermutation]] from pre-computed [[varianceMicroSums]] —
    * lets a caller that already paid the corpus aggregation (the store
    * create/refit, which persists the spectrum) derive the identical
    * permutation without a second pass. */
  def balancedPermutationFromSums(sx: Seq[Long], sxx: Seq[Long],
      rows: Long, dims: Int, m: Int): Array[Int] = {
    require(m >= 1 && dims % m == 0,
      s"dims=$dims must split evenly into m=$m subspaces")
    require(sx.length == dims && sxx.length == dims,
      s"moment sums have ${sx.length}/${sxx.length} dims, not $dims")
    val subDim = dims / m
    val n = BigInt(rows)
    // n·Σ⌊x²·1e6⌋·1e6 − (Σ⌊x·1e6⌋)² ∝ variance — the 1e6 factor puts
    // both terms in micro² units (Σ⌊x²·1e6⌋ is micro¹, its square
    // partner micro²; without it any dim with a nonzero MEAN scores
    // −(Σx)² and the "variance" ranking silently becomes a
    // mean-magnitude ranking). Exact integer compare, ties → lower dim
    val ranked = (0 until dims)
      .map(d => (n * BigInt(sxx(d)) * BigInt(1000000) -
        BigInt(sx(d)) * BigInt(sx(d)), d))
      .sortBy { case (score, d) => (-score, d) }
    val perm = new Array[Int](dims)
    for ((r2, (_, d)) <- ranked.zipWithIndex.map(_.swap))
      perm((r2 % m) * subDim + r2 / m) = d
    perm
  }

  /** Apply a [[balancedPermutation]] to an embedding column: output
    * element p = input element perm(p) (element type preserved — float
    * corpora and double residual relations both route through here). */
  def applyPerm(embCol: Column, perm: Array[Int]): Column =
    array(perm.map(d => embCol.getItem(d)): _*)

  /** The queries as the codebook saw them: permuted when the books were
    * trained on permuted vectors (a permutation is orthogonal, so the
    * permuted inner product IS the original). */
  private def permutedQueries(queries: Seq[(Long, Array[Float])],
      perm: Option[Array[Int]]): Seq[(Long, Array[Float])] =
    perm.fold(queries)(p =>
      queries.map { case (qid, q) => (qid, p.map(q(_))) })

  /** Nearest sub-centroid id with the family's deterministic tie-break:
    * squared distance first, then cell id ([[IvfIndex.cellDistances]]'s
    * struct-min trick, literal-k formulation — PQ codebooks are small by
    * construction, so the plan-literal path always applies). */
  private def nearestSub(semb: Column,
      cents: Seq[(Int, Array[Double])]): Column =
    array_min(array(cents.map { case (id, c) =>
      struct(SquaredDistance(semb, typedlit(c.toSeq)).as("dist"),
        lit(id).as("cell"))
    }: _*)).getField("cell")

  /** The routed per-subspace argmin: plan-literal fold when the bundle
    * fits the budget, the [[graft.functions.NearestCells]] broadcast
    * kernel above it (both bit-identical — the [[IvfIndex.cellCol]]
    * rule; a 16×16 bundle is 256 literal distance folds, past
    * whole-stage codegen's 64 KB method limit). */
  private def subCodeCol(embCol: Column, j: Int, subDim: Int,
      cents: Seq[(Int, Array[Double])],
      bc: Option[Broadcast[Array[Array[Double]]]]): Column = bc match {
    case Some(b) => graft.functions.NearestCells(
      sliceCol(embCol, j, subDim), b, cents.map(_._1).toArray, 1).getItem(0)
    case None => nearestSub(sliceCol(embCol, j, subDim), cents)
  }

  private def literalBudget(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.get(IvfIndex.LiteralMaxKConf, "128").toInt

  /** Train the `m` codebooks — [[IvfIndex.fit]]'s exact arithmetic run
    * independently per sub-vector slice: the SAME seeded-hash init order
    * (ranked by `(md5(id), id)` — identical across subspaces, so one
    * pass serves all m), `iters` argmin/mean rounds with micro-integer
    * sums, empty cells dying. ONE exploded aggregation job per
    * iteration updates ALL m books at once — `(j, cell)` keyed partials
    * over each row's m (subspace, argmin, slice) structs — instead of
    * m sequential corpus scans (the r14 review finding: 32 jobs at
    * m=16/iters=2 dominated the dq162–164 bench wall). Grouping by
    * `(j, cell)` partitions the sums exactly as the per-subspace
    * formulation did, so the arithmetic (and the oracle) is unchanged.
    * Every argmin runs through the [[graft.functions.NearestCells]]
    * kernel, whatever `m·k`: the update explodes all m argmins in one
    * projection, and as plan-literal folds even a bundle within the
    * literal budget (16×8) grows that stage past whole-stage codegen's
    * 64 KB method limit into interpreted evaluation. The kernel is
    * bit-identical to the fold, so the books are too. Per-iteration
    * kernel broadcasts are call-scoped and destroyed after the update
    * collect ([[IvfIndex.fit]]'s iterBc rule). */
  def fit(df: DataFrame, idCol: String, embCol: String, dims: Int,
      m: Int, k: Int, iters: Int = 2): Codebook = {
    require(k >= 1 && k <= 128,
      s"k=$k out of range [1, 128]: PQ codebooks are plan-literal")
    require(iters >= 1, "iters must be >= 1")
    val subDim = {
      val cb = Codebook(dims, m, Vector.fill(m)(Nil)) // validates dims % m
      cb.subDim
    }
    val spark = df.sparkSession
    val base = df.select(col(idCol).as("vid"), col(embCol).as("emb"))
      .persist()
    // ONE init collect: the k seed vectors (full dims), sliced per
    // subspace on the driver — identical to per-subspace init because
    // the (md5(id), id) rank does not depend on the slice
    val seeds = base.select(col("vid"), col("emb"))
      .orderBy(md5(col("vid").cast("string")), col("vid"))
      .limit(k).collect()
      // float corpora AND double residual relations both train here
      // (float→double widening is exact, so the arithmetic is one)
      .map(_.getSeq[Any](1).map(_.asInstanceOf[Number].doubleValue).toArray)
    var books: Vector[Seq[(Int, Array[Double])]] = (0 until m).map { j =>
      seeds.zipWithIndex.map { case (v, i) =>
        (i, v.slice(j * subDim, (j + 1) * subDim))
      }.toSeq
    }.toVector
    for (_ <- 1 to iters) {
      val bcs = books.map(cs => IvfIndex.bcMatrix(spark, cs))
      val structs = (0 until m).map { j =>
        struct(lit(j).as("j"),
          subCodeCol(col("emb"), j, subDim, books(j), Some(bcs(j)))
            .as("cell"),
          sliceCol(col("emb"), j, subDim).as("semb"))
      }
      val upd = base
        .select(explode(array(structs: _*)).as("s"))
        .select(col("s").getField("j").as("j"),
          col("s").getField("cell").as("cell"),
          col("s").getField("semb").as("semb"))
        .groupBy("j", "cell")
        .agg(graft.functions.VectorSumMicros.of(col("semb")).as("ms"),
          count(lit(1)).as("n"))
        .collect()
      bcs.foreach(_.destroy())
      books = (0 until m).map { j =>
        upd.filter(_.getInt(0) == j).map { r =>
          val n = r.getLong(3)
          (r.getInt(1), r.getSeq[Long](2).map(x => (x / 1000000.0) / n).toArray)
        }.toSeq.sortBy(_._1)
      }.toVector
    }
    base.unpersist(blocking = false)
    Codebook(dims, m, books)
  }

  /** Encode every vector as its `m` sub-centroid ids — `(vid,
    * codes array<int>)` in subspace order. MAP-ONLY either way (nothing
    * shuffles, nothing joins), routed like [[IvfIndex]]'s assignment:
    * when the TOTAL centroid count `m·k` fits the plan-literal budget
    * (`spark.graft.ivf.literalMaxK`), all m argmins are literal folds in
    * one projection; above it the projection would blow whole-stage
    * codegen's 64 KB method limit (a 16×16 codebook is 256 distance
    * folds — measured fallback to interpreted eval), so each subspace
    * argmin runs through the [[graft.functions.NearestCells]] broadcast
    * kernel instead — m small broadcasts MEMOIZED on the codebook
    * ([[Codebook.broadcastsFor]]), so a store whose cached book encodes
    * every append ships them once, not per batch. This is the relation
    * a 100 TB deployment persists: m int codes — 4 B each in flight,
    * bit-packed to ~1 B at rest by parquet (measured 20–26× under
    * float32 parquet, `SCALE_PQ`). `keep` names input columns to carry
    * through — the IVF-PQ composition surface, where
    * [[IvfIndex.withCell]]'s coarse cell rides along so the scored scan
    * can be probe-pruned. */
  def encode(df: DataFrame, idCol: String, embCol: String,
      cb: Codebook, keep: Seq[String] = Nil): DataFrame = {
    val spark = df.sparkSession
    val bcs =
      if (cb.sub.map(_.size).sum <= literalBudget(spark)) None
      else Some(cb.broadcastsFor(spark))
    df.select(col(idCol).as("vid") +:
      array((0 until cb.m).map(j =>
        subCodeCol(col(embCol), j, cb.subDim, cb.sub(j),
          bcs.map(_(j)))): _*).as("codes") +:
      keep.map(col): _*)
  }

  /** ADC inner-product top-k over an encoded relation: for each query,
    * tabulate `dot(q_sub_j, centroid)` for every sub-centroid (m·k
    * driver doubles, each a fixed left-to-right fold over subDim terms),
    * then score every code row as the SUBSPACE-ORDERED sum of its m
    * table lookups — a binary add chain `((t0 + t1) + t2) + …`, the
    * exact order the oracle writes. ONE scan of `codes` serves every
    * query (the per-query scores ride an exploded struct array — no
    * per-query union re-planning the input); ranking is the
    * bounded-heap top-k (score desc, vid asc); self-matches drop when
    * the query id appears in the relation. Returns `(qid, vid, score)`.
    * Feed a MATERIALIZED codes relation (the persisted m-bytes/vector
    * table a deployment stores) — scoring should scan codes, not
    * re-encode the corpus. */
  def adcTopK(codes: DataFrame, cb: Codebook,
      queries: Seq[(Long, Array[Float])], topK: Int,
      perm: Option[Array[Int]] = None): DataFrame =
    rankScored(scoredRows(codes, cb, permutedQueries(queries, perm)), topK)

  /** IVF-PQ: [[adcTopK]] restricted to each query's PROBED coarse cells
    * — the FAISS IndexIVFPQ shape (here without residual encoding: the
    * codebooks quantize raw vectors, the coarse index only prunes). The
    * code relation must carry the vector's coarse `cell`
    * ([[encode]]'s `keep` + [[IvfIndex.withCell]]); `probes` maps each
    * query id to its probe-cell list ([[IvfIndex.probesFor]]). The
    * probe filter runs BEFORE any scoring: each row explodes only the
    * query ids that probe its cell (a literal array filter), and the
    * score of each surviving (query, row) pair is m lookups into
    * per-subspace TWO-LEVEL literal tables keyed on `(qid, code)` —
    * O(m) work per admitted pair and a FIXED-SIZE expression however
    * many queries ride the scan (the r14 lesson: a Q-deep `when`-chain
    * embeds Q·m·k literals in one expression and re-creates the 64 KB
    * whole-stage-codegen method trap at a few hundred queries; a map
    * literal is one reference, not inline code). The two prunings
    * compose multiplicatively in COMPUTE as well as I/O. */
  def adcTopKProbed(codes: DataFrame, cb: Codebook,
      queries: Seq[(Long, Array[Float])], probes: Map[Long, Seq[Int]],
      topK: Int, perm: Option[Array[Int]] = None): DataFrame = {
    require(codes.columns.contains("cell"),
      "adcTopKProbed: the code relation must carry the coarse 'cell' " +
        "column (encode with keep = Seq(\"cell\") over IvfIndex.withCell)")
    require(queries.nonEmpty, "adcTopKProbed: no query vectors")
    queries.foreach { case (qid, q) =>
      require(q.length == cb.dims,
        s"query dims ${q.length} != codebook dims ${cb.dims}")
      require(probes.contains(qid),
        s"adcTopKProbed: no probe cells for query $qid")
    }
    val probesLit = typedlit(probes)
    val probingQids = filter(typedlit(queries.map(_._1)),
      q => array_contains(element_at(probesLit, q), col("cell")))
    val exploded = codes
      .select(col("vid"), col("codes"), explode(probingQids).as("qid"))
      .filter(col("vid") =!= col("qid"))
    val scored = exploded
      .select(col("qid"), col("vid"),
        scoreForAll(cb, permutedQueries(queries, perm)).as("score"))
    rankScored(scored, topK)
  }

  /** ADC score of the row's `codes` for the query named by the row's
    * `qid` column: m lookups into per-subspace literal tables keyed on
    * `qid * stride + code` (stride = one past the largest surviving
    * sub-centroid id, so the composite key is collision-free). Each
    * table value is the SAME driver double [[scoreFor]] tabulates —
    * computed by the identical left-to-right fold — and the m lookups
    * sum in the same subspace-ordered binary add chain, so this is
    * bit-identical to dispatching [[scoreFor]] per query; the
    * expression just stops growing with the query count. */
  private def scoreForAll(cb: Codebook,
      queries: Seq[(Long, Array[Float])]): Column = {
    // the qid keys the lookup tables: a duplicated id would silently
    // keep one vector's scores for both — refuse by name instead
    require(queries.map(_._1).distinct.size == queries.size,
      "duplicate query ids: each qid keys the ADC score tables")
    val stride: Long =
      cb.sub.iterator.flatMap(_.iterator.map(_._1)).max.toLong + 1L
    (0 until cb.m).map { j =>
      val table: Map[Long, Double] = (for {
        (qid, q) <- queries
        (cell, c) <- cb.sub(j)
      } yield {
        var s = 0.0
        var i = 0
        while (i < cb.subDim) {
          s += q(j * cb.subDim + i).toDouble * c(i)
          i += 1
        }
        (qid * stride + cell) -> s
      }).toMap
      element_at(typedlit(table),
        col("qid") * lit(stride) + col("codes").getItem(j).cast("long"))
    }.reduceLeft(_ + _)
  }

  /** The RESIDUAL column for residual IVF-PQ: `x − centroid(cell(x))`
    * as exact double arithmetic (`array<double>` — float→double widening
    * is exact, centroids are already doubles, so any engine re-derives
    * the identical residuals). This is where FAISS IndexIVFPQ earns most
    * of its recall at the same m·k: residuals concentrate near zero once
    * the coarse quantizer has soaked up the vector's cell-level
    * structure, so the SAME codebook budget spends its centroids on a
    * much smaller ball. Feed the result to [[fit]]/[[encode]] in place
    * of the raw embedding; score via [[adcTopKProbedResidual]], which
    * adds the `q·centroid(cell)` term the subtraction moved out. */
  def residualCol(embCol: Column, cellCol: Column,
      coarse: Seq[(Int, Array[Double])]): Column = {
    require(coarse.nonEmpty, "residualCol: empty coarse centroid set")
    val cents = typedlit(coarse.map { case (id, c) => id -> c.toSeq }.toMap)
    zip_with(embCol.cast("array<double>"), element_at(cents, cellCol),
      (a, b) => a - b)
  }

  /** [[adcTopKProbed]] for RESIDUAL-encoded codes — the full FAISS
    * IndexIVFPQ scoring shape: `q·x ≈ q·centroid(cell) + q·r̂` where
    * `r̂` is the residual's ADC reconstruction. The first term is a
    * driver-sized `(qid, cell)` constant table (Q·k doubles — the
    * "centroid folded into the query tables" of the residual
    * literature), added ONCE per surviving pair in front of the m-term
    * subspace fold, so the association `const + ((t0+t1)+…)` is fixed
    * and engine-portable. Probe pruning, the two-level literal-map
    * dispatch, and the bounded-heap rank are [[adcTopKProbed]]'s. */
  def adcTopKProbedResidual(codes: DataFrame, cb: Codebook,
      queries: Seq[(Long, Array[Float])], probes: Map[Long, Seq[Int]],
      coarse: Seq[(Int, Array[Double])], topK: Int,
      perm: Option[Array[Int]] = None): DataFrame = {
    require(codes.columns.contains("cell"),
      "adcTopKProbedResidual: the code relation must carry the coarse " +
        "'cell' column (encode with keep = Seq(\"cell\"))")
    require(queries.nonEmpty, "adcTopKProbedResidual: no query vectors")
    require(coarse.nonEmpty, "adcTopKProbedResidual: empty coarse set")
    queries.foreach { case (qid, q) =>
      require(q.length == cb.dims,
        s"query dims ${q.length} != codebook dims ${cb.dims}")
      require(probes.contains(qid),
        s"adcTopKProbedResidual: no probe cells for query $qid")
    }
    val strideC: Long = coarse.iterator.map(_._1).max.toLong + 1L
    val qcTable: Map[Long, Double] = (for {
      (qid, q) <- queries
      (cell, c) <- coarse
    } yield {
      var s = 0.0
      var i = 0
      while (i < cb.dims) { s += q(i).toDouble * c(i); i += 1 }
      (qid * strideC + cell) -> s
    }).toMap
    val probesLit = typedlit(probes)
    val probingQids = filter(typedlit(queries.map(_._1)),
      q => array_contains(element_at(probesLit, q), col("cell")))
    val exploded = codes
      .select(col("vid"), col("codes"), col("cell"),
        explode(probingQids).as("qid"))
      .filter(col("vid") =!= col("qid"))
    val qcConst = element_at(typedlit(qcTable),
      col("qid") * lit(strideC) + col("cell").cast("long"))
    // the q·centroid(cell) table uses the ORIGINAL coordinates (coarse
    // centroids live in original space); only the subspace tables see
    // the permutation the residual codes were encoded under
    val scored = exploded
      .select(col("qid"), col("vid"),
        (qcConst + scoreForAll(cb, permutedQueries(queries, perm)))
          .as("score"))
    rankScored(scored, topK)
  }

  /** The DISTRIBUTED ADC score column — [[graft.functions.PqAdcDot]]
    * against this codebook's dense broadcast: for rows that carry BOTH a
    * query embedding and a code array (a gate's batch-probe join, where
    * the "queries" are an arbitrary-size incoming batch and the literal
    * tables of [[adcTopKProbed]] cannot exist). Bit-identical to the
    * literal-table lookup (spec-gated): same per-subspace left-to-right
    * fold, same subspace-ordered accumulation. The CALLER permutes
    * `qemb` when the book is a permuted tier ([[applyPerm]] — codes
    * live in permuted space). */
  def adcDotCol(qemb: Column, codes: Column, cb: Codebook,
      spark: org.apache.spark.sql.SparkSession): Column =
    graft.functions.PqAdcDot(qemb, codes,
      cb.denseBroadcastFor(spark), cb.subDim)

  /** One query's ADC score over the `codes` column: the SUBSPACE-ORDERED
    * sum of its m table lookups — a binary add chain
    * `((t0 + t1) + t2) + …`, the exact order the oracle writes; each
    * table is m·k driver doubles, each entry a fixed left-to-right fold
    * over subDim terms. */
  private def scoreFor(cb: Codebook, q: Array[Float]): Column =
    (0 until cb.m).map { j =>
      val table: Map[Int, Double] = cb.sub(j).map { case (cell, c) =>
        var s = 0.0
        var i = 0
        while (i < cb.subDim) {
          s += q(j * cb.subDim + i).toDouble * c(i)
          i += 1
        }
        cell -> s
      }.toMap
      element_at(typedlit(table), col("codes").getItem(j))
    }.reduceLeft(_ + _)

  /** The shared ADC scoring scan: `(qid, vid, score)`, one pass over
    * `codes` with the per-query score structs exploded. */
  private def scoredRows(codes: DataFrame, cb: Codebook,
      queries: Seq[(Long, Array[Float])]): DataFrame = {
    require(queries.nonEmpty, "adcTopK: no query vectors")
    queries.foreach { case (_, q) => require(q.length == cb.dims,
      s"query dims ${q.length} != codebook dims ${cb.dims}") }
    val qScores = queries.map { case (qid, q) =>
      struct(lit(qid).as("qid"), scoreFor(cb, q).as("score"))
    }
    codes
      .select(col("vid"), explode(array(qScores: _*)).as("qs"))
      .select(col("qs").getField("qid").as("qid"), col("vid"),
        col("qs").getField("score").as("score"))
      .filter(col("vid") =!= col("qid"))
  }

  private def rankScored(scored: DataFrame, topK: Int): DataFrame = {
    require(topK >= 1, "topK must be >= 1")
    graft.plans.GraftPlans.topKPerKey(scored, Seq(col("qid")),
      Seq(col("score").desc, col("vid").asc), topK)
  }
}
