package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Known-vector correctness for the similarity operators (LSH variants have
  * no DuckDB oracle; brute force doubles as their recall reference). */
class SimilaritySpec extends SparkSuite {

  import spark.implicits._

  /** The declarative fold — the bit-parity reference for the native
    * [[Similarity.dot]]. */
  private def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Declarative HOF signature — the bit-parity reference for the native
    * [[Similarity.lshSignature]]. Plane component (p, i) is xxhash64 of
    * the pair scaled to [-1, 1). */
  private def lshSignatureHof(v: Column, planes: Int): Column =
    (0 until planes).map { p =>
      val proj = aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1), (x, i) =>
          x * (xxhash64(lit(p), i).cast("double") / lit(Long.MaxValue.toDouble))),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)

  // 4-dim toy corpus: v1≈v2 (cos≈0.998), v3 orthogonal-ish, v4 negated
  private lazy val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.99f, 0.1f, 0.0f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f)),
    (4L, Array(0.9f, 0.05f, 0.1f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("bruteForceTopK ranks by exact cosine") {
    val res = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
        col("id") === 0L, k = 3)
      .orderBy("rn").select("neighbor_id").as[Long].collect().toSeq
    assert(res === Seq(1L, 4L, 2L)) // cos: 1→0.995, 4→0.993, 2→0, 3→−1
  }

  test("lshTopK finds near-identical vectors in the same bucket") {
    val res = Similarity.lshTopK(vecs, "vec_id", "embedding",
        col("id") === 0L, k = 3, planes = 4)
      .select("neighbor_id").as[Long].collect().toSet
    assert(res.contains(1L), "near-identical vector must share all hyperplane signs")
  }

  test("ivfTopK finds the nearest neighbor through probed centroid lists") {
    val res = Similarity.ivfTopK(vecs, "vec_id", "embedding",
        col("id") === 0L, k = 3, nCentroids = 3, nProbe = 2)
      .orderBy("rn").select("neighbor_id").as[Long].collect().toSeq
    assert(res.headOption === Some(1L),
      s"nearest neighbor 1 must rank first among probed candidates, got $res")
  }

  test("randomProjection: LSH bucket bits are the projection's signs; deterministic") {
    val df = spark.range(50).select(col("id").as("vec_id"),
      array((0 until 6).map(d =>
        sin((col("id") + 1) * (d + 1)).cast("float")): _*).as("embedding"))
    val rp = Similarity.randomProjection(df, "vec_id", "embedding", outDim = 8)
    val sig = df.select(col("vec_id").as("id"),
      Similarity.lshSignature(col("embedding").cast("array<double>"), 8).as("bucket"))
    val joined = rp.join(sig, "id")
      .select(col("id"), col("rp"), col("bucket"))
      .as[(Long, Seq[Double], Long)].collect()
    assert(joined.nonEmpty)
    joined.foreach { case (id, proj, bucket) =>
      assert(proj.length === 8)
      proj.zipWithIndex.foreach { case (x, p) =>
        assert((x >= 0) === ((bucket & (1L << p)) != 0L),
          s"vec $id plane $p: projection sign must be the LSH bucket bit")
      }
    }
    // determinism: a second evaluation is bit-identical
    val again = Similarity.randomProjection(df, "vec_id", "embedding", outDim = 8)
      .as[(Long, Seq[Double])].collect().toMap
    joined.foreach { case (id, proj, _) => assert(again(id) === proj) }
  }

  test("filtered ANN: predicate restricts neighbors; full-probe IVF equals brute force") {
    // label = id % 2: queries from the full set, neighbors from odd ids only
    val labeled = spark.range(60).select(col("id").as("vec_id"),
      array((0 until 4).map(d =>
        sin((col("id") + 1) * (d + 1)).cast("float")): _*).as("embedding"),
      (col("id") % 2).cast("int").as("label"))
    val bf = Similarity.bruteForceTopKWhere(labeled, "vec_id", "embedding",
      col("id") % 20 === 0, col("label") === 1, k = 4)
    val bfRows = bf.collect()
    assert(bfRows.nonEmpty && bfRows.forall(_.getLong(1) % 2 == 1),
      "every filtered neighbor must satisfy the corpus predicate")
    // at nProbe = nCentroids the IVF probe covers every list → exact
    val ivf = Similarity.ivfTopKWhere(labeled, "vec_id", "embedding",
      col("id") % 20 === 0, col("label") === 1, k = 4,
      nCentroids = 16, nProbe = 16)
    assert(ivf.collect().toSet === bfRows.toSet,
      "full-probe filtered IVF must equal the filtered brute force")
    // a query that itself fails the predicate still gets (filtered) results
    assert(bfRows.exists(_.getLong(0) % 2 == 0),
      "queries are drawn from the full table, not the filtered subset")
  }

  test("filtered IVF-PQ: predicate restricts neighbors; exhaustive search equals brute force") {
    val labeled = spark.range(40).select(col("id").as("vec_id"),
      array((0 until 8).map(d =>
        sin((col("id") + 1) * (d + 1)).cast("float")): _*).as("embedding"),
      (col("id") % 2).cast("int").as("label"))
    // nProbe = nCentroids and a shortlist wider than the corpus → the
    // exact re-rank sees every matching candidate → equals brute force
    val pq = Similarity.ivfPqTopKWhere(labeled, "vec_id", "embedding",
      col("id") % 10 === 0, col("label") === 1, k = 3,
      nCentroids = 4, nProbe = 4, m = 4, kSub = 8,
      trainIters = 0, pqIters = 0, rerankFactor = 20)
    val pqRows = pq.collect()
    assert(pqRows.nonEmpty && pqRows.forall(_.getLong(1) % 2 == 1),
      "every filtered PQ neighbor must satisfy the corpus predicate")
    val bf = Similarity.bruteForceTopKWhere(labeled, "vec_id", "embedding",
      col("id") % 10 === 0, col("label") === 1, k = 3)
    assert(pqRows.toSet === bf.collect().toSet,
      "exhaustive filtered PQ must equal the filtered brute force")
    // a predicate matching nothing yields empty results, not an error
    Seq(
      Similarity.bruteForceTopKWhere(labeled, "vec_id", "embedding",
        col("id") % 10 === 0, col("label") === 99, k = 3),
      Similarity.ivfTopKWhere(labeled, "vec_id", "embedding",
        col("id") % 10 === 0, col("label") === 99, k = 3, nCentroids = 4),
      Similarity.ivfPqTopKWhere(labeled, "vec_id", "embedding",
        col("id") % 10 === 0, col("label") === 99, k = 3,
        nCentroids = 4, m = 4, kSub = 8, pqIters = 0)
    ).foreach(df => assert(df.count() === 0,
      "an unsatisfiable corpus predicate must return zero rows"))
  }

  test("attribute-carrying PQ index equals the semi-join form; filter pushes into the index scan") {
    val labeled = spark.range(40).select(col("id").as("vec_id"),
      array((0 until 8).map(d =>
        sin((col("id") + 1) * (d + 1)).cast("float")): _*).as("embedding"),
      (col("id") % 2).cast("int").as("label"))
    // in-plan form: identical output to ivfPqTopKWhere on the same params
    val attr = Similarity.ivfPqTopKAttr(labeled, "vec_id", "embedding",
      col("id") % 10 === 0, col("label") === 1, Seq("label"), k = 3,
      nCentroids = 4, nProbe = 4, m = 4, kSub = 8,
      trainIters = 0, pqIters = 0, rerankFactor = 20)
    val semi = Similarity.ivfPqTopKWhere(labeled, "vec_id", "embedding",
      col("id") % 10 === 0, col("label") === 1, k = 3,
      nCentroids = 4, nProbe = 4, m = 4, kSub = 8,
      trainIters = 0, pqIters = 0, rerankFactor = 20)
    assert(attr.collect().toSet === semi.collect().toSet,
      "attribute-carried filter must equal the semi-join form")
    // deployment form: persist the index, read back with the predicate —
    // the attribute filter must reach the parquet scan (PushedFilters),
    // and the search over the persisted index must equal the in-plan form
    val (model, idx) = Similarity.buildPqIndexWith(labeled,
      "vec_id", "embedding", Seq("label"),
      nCentroids = 4, m = 4, kSub = 8, trainIters = 0, pqIters = 0)
    val dir = java.nio.file.Files.createTempDirectory("pq_attr_idx").toString
    idx.write.mode("overwrite").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("label") === 1)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(label,1)"),
      s"label predicate must push down to the index scan (PushedFilters):\n$plan")
    val fromDisk = Similarity.searchPqIndex(model, pruned, labeled,
      "vec_id", "embedding", col("id") % 10 === 0, k = 3,
      nProbe = 4, rerankFactor = 20)
    assert(fromDisk.collect().toSet === semi.collect().toSet,
      "persisted attribute-carrying index must produce identical results")
  }

  test("lshTopKPortable: near-identical vectors share the md5-plane bucket") {
    val res = Similarity.lshTopKPortable(vecs, "vec_id", "embedding",
        col("id") === 0L, k = 3, planes = 4)
      .select("neighbor_id").as[Long].collect().toSet
    assert(res.contains(1L),
      "near-identical vector must share every md5-derived hyperplane sign")
    assert(!res.contains(3L), "the negated vector must land in another bucket")
  }

  test("nCentroids = -1 auto-sizes to clamp(ceil(sqrt(n)), 16, 256)") {
    // 400 synthetic vectors → auto = 20 lists; the auto run must equal
    // the explicit nCentroids = 20 run EXACTLY (same deterministic
    // lowest-id sample quantizer, only the count differs in how it was
    // chosen)
    val df = spark.range(400).select(col("id").as("vec_id"),
      array((0 until 4).map(d => // +1 keeps id 0 off the zero vector
        sin((col("id") + 1) * (d + 1)).cast("float")): _*).as("embedding"))
    val auto = Similarity.ivfTopK(df, "vec_id", "embedding",
        col("id") % 100 === 0, k = 3, nCentroids = -1, nProbe = 2)
      .collect().toSet
    val explicit = Similarity.ivfTopK(df, "vec_id", "embedding",
        col("id") % 100 === 0, k = 3, nCentroids = 20, nProbe = 2)
      .collect().toSet
    assert(auto === explicit, "sqrt(400) = 20 lists must reproduce the " +
      "explicit-20 result bit for bit")
    // below the floor: tiny corpora clamp up to 16
    val tiny = Similarity.ivfTopK(vecs, "vec_id", "embedding",
      col("id") === 0L, k = 3, nCentroids = -1, nProbe = 2)
    assert(tiny.columns.toSeq ===
      Seq("query_id", "neighbor_id", "cos", "rn"))
    assert(tiny.count() > 0, "5-vector corpus under the 16-list floor " +
      "must still search (every vector becomes its own list)")
  }

  test("trainCentroids refines the sampled quantizer and keeps ivf recall") {
    // 3 well-separated groups of 20 vectors each; centroids start as the
    // 3 lowest ids (all in group 0) and must migrate toward the groups
    val grouped = spark.range(60).select(col("id"),
      expr("""transform(sequence(0, 7), i ->
        cast(if(i = id % 3, 10.0, 0.0) as double) +
        cast(xxhash64(id, i) as double) / 9.2e18)""").as("v"))
      .withColumn("n", expr("sqrt(aggregate(transform(v, x -> x * x), 0.0D, (a, x) -> a + x))"))
    val init = Similarity.trainCentroids(grouped, 3, iters = 0)
    val trained = Similarity.trainCentroids(grouped, 3, iters = 2)
    assert(trained.map(_._1).toSeq === init.map(_._1).toSeq,
      "centroid ids stay the reproducible sample ids")
    assert(trained.zip(init).exists { case ((_, tv, _), (_, iv, _)) => tv != iv },
      "training must move at least one centroid")
    // trained quantizer separates the planted groups: assign each row to
    // its nearest trained centroid and check group purity via ivfTopK
    val res = Similarity.ivfTopK(
        grouped.select(col("id").as("vec_id"), col("v").cast("array<float>").as("embedding")),
        "vec_id", "embedding", col("id") < 3, k = 3, nCentroids = 3,
        nProbe = 1, trainIters = 2)
    val neighbors = res.select("query_id", "neighbor_id")
      .as[(Long, Long)].collect()
    assert(neighbors.nonEmpty)
    assert(neighbors.forall { case (q, n) => q % 3 == n % 3 },
      s"1-probe neighbors must come from the query's own planted group: ${neighbors.toSeq}")
  }

  test("native graft_dot / graft_lsh_bucket are bit-identical to the HOF forms") {
    // random-ish 16-dim vectors exercising sign mixes and magnitudes
    val wide = spark.range(64).select(col("id"),
      expr("transform(sequence(0, 15), i -> cast(xxhash64(id, i) as double) / 9.2e18)").as("v"))
    val both = wide.select(
      Similarity.dot(col("v"), col("v")).as("d_native"),
      dotHof(col("v"), col("v")).as("d_hof"),
      Similarity.lshSignature(col("v"), 8).as("b_native"),
      lshSignatureHof(col("v"), 8).as("b_hof"))
    val rows = both.as[(Double, Double, Long, Long)].collect()
    rows.foreach { case (dn, dh, bn, bh) =>
      assert(dn === dh, "dot must fold in identical order → bit-equal")
      assert(bn === bh, "bucket bits must match the declarative signature")
    }
  }

  test("cosineNearDupPairs finds high-cosine pairs through buckets") {
    val res = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding",
        tau = 0.98, leftPred = col("id") === 0L, planes = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(res.contains((0L, 1L)))
    assert(!res.exists(p => p._2 == 3L), "negated vector is never a near-dup")
  }

  test("cosineNearDupPairsPortable matches the native path's pair semantics") {
    val res = Similarity.cosineNearDupPairsPortable(vecs, "vec_id", "embedding",
        tau = 0.98, leftPred = col("id") === 0L, planes = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(res.contains((0L, 1L)),
      "near-identical vectors must share every md5-plane sign")
    assert(!res.exists(p => p._2 == 3L), "negated vector is never a near-dup")
  }

  test("quantizeInt8: codes in range, dequantization error bounded by scale/2") {
    val q = Similarity.quantizeInt8(vecs, "vec_id", "embedding")
    val rows = q.join(
        vecs.select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("v")), "id")
      .select("id", "scale", "qvec", "v")
      .as[(Long, Double, Seq[Int], Seq[Double])].collect()
    assert(rows.length === 5)
    rows.foreach { case (id, scale, qv, v) =>
      assert(qv.length === v.length)
      assert(qv.forall(c => c >= -127 && c <= 127), s"code out of range for $id")
      if (scale > 0) {
        v.zip(qv).foreach { case (x, c) =>
          assert(math.abs(x - c * scale) <= scale / 2 + 1e-12,
            s"dequant error above scale/2 for $id")
        }
        assert(qv.map(math.abs).max === 127,
          "the max-magnitude component must map to ±127")
      }
    }
    // all-zero vector: scale 0, all-zero codes
    val z = Seq((9L, Array(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val zr = Similarity.quantizeInt8(z, "vec_id", "embedding")
      .select("scale", "qvec").as[(Double, Seq[Int])].head()
    assert(zr._1 === 0.0 && zr._2.forall(_ === 0))
  }

  test("ivfPqTopK exact re-rank recovers the nearest neighbor on the toy corpus") {
    val res = Similarity.ivfPqTopK(vecs, "vec_id", "embedding",
        col("id") === 0L, k = 3, nCentroids = 3, nProbe = 2,
        m = 2, kSub = 4, pqIters = 0)
      .orderBy("rn").select("neighbor_id").as[Long].collect().toSeq
    assert(res.headOption === Some(1L),
      s"nearest neighbor 1 must rank first after ADC shortlist + exact re-rank, got $res")
  }

  test("prebuilt PQ index: build once, search many — identical to single-call") {
    val grouped = spark.range(60).select(col("id").as("vec_id"),
      expr("""transform(sequence(0, 7), i ->
        cast(cast(if(i = vec_id % 3, 10.0, 0.0) as double) +
        cast(xxhash64(vec_id, i) as double) / 9.2e18 as float)""" + ")").as("embedding"))
    val (model, index) = Similarity.buildPqIndex(grouped, "vec_id", "embedding",
      nCentroids = 3, m = 2, kSub = 8, trainIters = 1, pqIters = 1)
    val single = Similarity.ivfPqTopK(grouped, "vec_id", "embedding",
        col("id") === 0L, k = 3, nCentroids = 3, nProbe = 1, m = 2, kSub = 8,
        trainIters = 1, pqIters = 1)
      .collect().map(_.toSeq).toSet
    val viaIndex = Similarity.searchPqIndex(model, index, grouped,
        "vec_id", "embedding", col("id") === 0L, k = 3, nProbe = 1)
      .collect().map(_.toSeq).toSet
    // a SECOND query batch over the same prebuilt index — no retraining
    val batch2 = Similarity.searchPqIndex(model, index, grouped,
        "vec_id", "embedding", col("id") === 1L, k = 3, nProbe = 1)
      .collect().map(_.toSeq)
    assert(viaIndex === single,
      "search over the prebuilt index must equal the single-call form")
    assert(batch2.nonEmpty && batch2.forall(r => r.head == 1L))
  }

  test("PqModel save/load round-trips bit-for-bit and serves identical searches") {
    val corpus = spark.range(60).select(col("id").as("vec_id"),
      expr("""transform(sequence(0, 7), i ->
        cast(cast(if(i = vec_id % 3, 10.0, 0.0) as double) +
        cast(xxhash64(vec_id, i) as double) / 9.2e18 as float)""" + ")").as("embedding"))
    val (model, index) = Similarity.buildPqIndex(corpus, "vec_id", "embedding",
      nCentroids = 3, m = 2, kSub = 8, trainIters = 1, pqIters = 1)
    val dir = java.nio.file.Files.createTempDirectory("pqmodel").toString
    try {
      Similarity.savePqModel(model, dir, spark)
      val loaded = Similarity.loadPqModel(dir, spark)
      assert(loaded.cents.toSeq === model.cents.toSeq,
        "centroids must round-trip exactly (cid order preserved)")
      assert(loaded.books.map(_.toSeq).toSeq === model.books.map(_.toSeq).toSeq,
        "codebooks must round-trip exactly by (j, c) index")
      // the loaded model encodes AND searches identically — the
      // cross-session production path (new cluster, persisted index)
      val viaLoaded = Similarity.searchPqIndex(loaded,
          Similarity.encodePqIndex(loaded, corpus, "vec_id", "embedding"),
          corpus, "vec_id", "embedding", col("id") === 0L, k = 3, nProbe = 1)
        .collect().map(_.toSeq).toSet
      val viaOriginal = Similarity.searchPqIndex(model, index, corpus,
          "vec_id", "embedding", col("id") === 0L, k = 3, nProbe = 1)
        .collect().map(_.toSeq).toSet
      assert(viaLoaded === viaOriginal,
        "a search against the reloaded model must equal the original")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("native PqCodesExpr ≡ the literal pqCodesFor encode on every row") {
    // The r17 broadcast-codebook encode must be BIT-equivalent to the
    // retired-from-the-hot-path literal form: same sub-vector dots, same
    // 2·dot − ‖cw‖² scores, same (score desc, code asc) tie-break. The
    // fixture plants exact-codeword vectors (forcing score ties against
    // duplicated codewords) plus hash-noise vectors across every cell.
    val corpus = spark.range(120).select(col("id").as("vec_id"),
      expr("""transform(sequence(0, 15), i ->
        cast(if(vec_id < 8, if(i % 8 = cast(vec_id % 8 as int), 1.0, 0.0),
        cast(xxhash64(vec_id, i) as double) / 9.2e18) as double)""" + ")")
        .as("embedding"))
    val (model, _) = Similarity.buildPqIndex(corpus, "vec_id", "embedding",
      nCentroids = 4, m = 4, kSub = 8, trainIters = 0, pqIters = 1)
    val ds = model.dim / model.books.length
    val v = col("embedding").cast("array<double>")
    val both = corpus.select(col("vec_id"),
      Similarity.pqCodesFor(model.books, ds)(v).as("lit_codes"),
      org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.PqCodesExpr(
          org.apache.spark.sql.GraftColumnBridge.expression(v),
          spark.sparkContext.broadcast(
            graft.functions.PqBookSet(model.books)))).as("native_codes"))
    val rows = both.collect()
    assert(rows.length === 120)
    rows.foreach { r =>
      assert(r.getSeq[Int](1) === r.getSeq[Int](2),
        s"codes must be bit-identical for vec ${r.getLong(0)}")
    }
  }

  test("appendToPqIndex: incremental encode equals encoding everything at once") {
    val corpus = spark.range(80).select(col("id").as("vec_id"),
      expr("""transform(sequence(0, 7), i ->
        cast(cast(if(i = vec_id % 4, 8.0, 0.0) as double) +
        cast(xxhash64(vec_id, i) as double) / 9.2e18 as float)""" + ")").as("embedding"))
    val first = corpus.filter(col("vec_id") < 40)
    val rest = corpus.filter(col("vec_id") >= 40)
    val (model, idx) = Similarity.buildPqIndex(first, "vec_id", "embedding",
      nCentroids = 3, m = 2, kSub = 8, trainIters = 1, pqIters = 1)
    val appended = Similarity.appendToPqIndex(model, idx, rest, "vec_id", "embedding")
    // same frozen model encoding the whole corpus in one pass
    val direct = Similarity.encodePqIndex(model, corpus, "vec_id", "embedding")
    assert(appended.collect().map(_.toSeq).toSet ===
      direct.collect().map(_.toSeq).toSet,
      "append path must equal one-pass encode under the same model")
    // and search over the appended index still answers from BOTH halves
    val res = Similarity.searchPqIndex(model, appended, corpus,
        "vec_id", "embedding", col("id") === 44L, k = 3, nProbe = 3)
      .select("neighbor_id").as[Long].collect()
    assert(res.nonEmpty)
  }

  test("sim_ivfpq_search (cached index binding) equals the one-shot gate query") {
    val dir = "/root/testdata/sf0.001"
    val oneShot = graft.queries.PipelineCatalog.simIvfPq(spark, dir)
      .collect().map(_.toSeq).toSet
    val cached1 = graft.queries.PipelineCatalog.simIvfPqSearch(spark, dir)
      .collect().map(_.toSeq).toSet
    val cached2 = graft.queries.PipelineCatalog.simIvfPqSearch(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(cached1 === oneShot, "cached-index search must equal build+search")
    assert(cached2 === oneShot, "second call (cache hit) must be identical")
  }

  test("ivfPq codes stay in range and recall holds on planted groups") {
    // 3 well-separated groups of 20 vectors, 8-dim (2 subspaces × 4 dims)
    val grouped = spark.range(60).select(col("id").as("vec_id"),
      expr("""transform(sequence(0, 7), i ->
        cast(cast(if(i = vec_id % 3, 10.0, 0.0) as double) +
        cast(xxhash64(vec_id, i) as double) / 9.2e18 as float)""" + ")").as("embedding"))
    val res = Similarity.ivfPqTopK(grouped, "vec_id", "embedding",
        col("id") < 3, k = 3, nCentroids = 3, nProbe = 1,
        m = 2, kSub = 8, trainIters = 2, pqIters = 2)
    val neighbors = res.select("query_id", "neighbor_id")
      .as[(Long, Long)].collect()
    assert(neighbors.nonEmpty)
    assert(neighbors.forall { case (q, n) => q % 3 == n % 3 },
      s"1-probe PQ neighbors must come from the query's planted group: ${neighbors.toSeq}")
    // exact-re-rank contract: emitted cos equals the true rounded cosine
    val bf = Similarity.bruteForceTopK(grouped, "vec_id", "embedding",
        col("id") === 0L, k = 3)
      .select("neighbor_id", "cos").as[(Long, Double)].collect().toMap
    val pq = Similarity.ivfPqTopK(grouped, "vec_id", "embedding",
        col("id") === 0L, k = 3, nCentroids = 3, nProbe = 1,
        m = 2, kSub = 8, trainIters = 2, pqIters = 2)
      .select("neighbor_id", "cos").as[(Long, Double)].collect().toMap
    pq.foreach { case (n, c) =>
      assert(bf.get(n).forall(_ === c),
        s"re-ranked cosine for $n must equal the exact cosine")
    }
  }

  test("semanticDedup keeps the lowest id of each within-cluster neighborhood") {
    val res = Similarity.semanticDedup(vecs, "vec_id", "embedding",
        tau = 0.9, nCentroids = 3)
      .select("id", "keep").as[(Long, Boolean)].collect().toMap
    assert(res.size === 5, "one decision per corpus row")
    // Clusters (lowest-id sample quantizer): c0={0,4}, c1={1}, c2={2,3}.
    // v4 shares v0's cluster at cos≈0.993 ≥ τ → only the lower id survives.
    assert(res(0L), "cluster representative (lowest id) must be kept")
    assert(!res(4L), "higher-id near-dup in the same cluster must be dropped")
    // v1 is near-identical to v0 but seeds its own cluster — kept: the
    // documented SemDeDup recall caveat (duplicates split across cluster
    // boundaries are not compared).
    assert(res(1L), "cross-cluster near-dup is out of scope by design")
    // v2 and v3 have no ≥ τ neighbor in their cluster — kept
    assert(res(2L) && res(3L), "rows without a near-dup must survive")
  }

  test("semanticDedup: τ above every pairwise cosine keeps everything") {
    val keeps = Similarity.semanticDedup(vecs, "vec_id", "embedding",
        tau = 0.9999, nCentroids = 3)
      .filter(col("keep")).count()
    assert(keeps === 5)
  }

  test("semanticDedupIncremental drops batch rows near the corpus, keep-first within batch") {
    // corpus: v2 only → single frozen centroid; incoming: v0 ≈ v1, both far from v2
    val corpus = vecs.filter(col("vec_id") === 2L)
    val incoming = vecs.filter(col("vec_id").isin(0L, 1L))
    val res = Similarity.semanticDedupIncremental(incoming, corpus,
        "vec_id", "embedding", tau = 0.9, nCentroids = 1)
      .select("id", "keep").as[(Long, Boolean)].collect().toMap
    assert(res.keySet === Set(0L, 1L), "decisions cover the incoming batch only")
    assert(res(0L), "batch row far from the corpus must be kept")
    assert(!res(1L), "higher-id near-dup WITHIN the batch must be dropped")
    // and a batch row near a corpus row drops regardless of id order
    val res2 = Similarity.semanticDedupIncremental(
        vecs.filter(col("vec_id") === 1L), vecs.filter(col("vec_id") === 0L),
        "vec_id", "embedding", tau = 0.9, nCentroids = 1)
      .select("keep").as[Boolean].collect()
    assert(res2 === Array(false), "≥τ corpus neighbor in-cluster must drop the ingest row")
  }

  test("semanticDedupIncremental with an empty corpus degenerates to semanticDedup") {
    val empty = vecs.filter(lit(false))
    val inc = Similarity.semanticDedupIncremental(vecs, empty,
        "vec_id", "embedding", tau = 0.9, nCentroids = 3)
      .select("id", "keep").as[(Long, Boolean)].collect().toMap
    val full = Similarity.semanticDedup(vecs, "vec_id", "embedding",
        tau = 0.9, nCentroids = 3)
      .select("id", "keep").as[(Long, Boolean)].collect().toMap
    assert(inc === full)
  }

  test("broadcast centroid argmax ≡ literal assignment, ties included") {
    val corpus = spark.range(500).select(col("id").as("vec_id"),
      expr("""transform(sequence(0, 7), i ->
        cast(cast(if(i = vec_id % 8, 5.0, 0.1) as double) +
        cast(xxhash64(vec_id, i) as double) / 4.6e18 as float)""" + ")")
        .as("embedding"))
    val cents = Similarity.trainQuantizer(corpus, "vec_id", "embedding",
      nCentroids = 24, trainIters = 1)
    // duplicate centroid vectors force exact score TIES, exercising the
    // negcid (lowest-id-wins) tie-break in both implementations
    val tied = cents ++ cents.take(3).map { case (cid, cv, cn) =>
      (cid + 10000L, cv, cn) }
    def assign(f: (org.apache.spark.sql.DataFrame, String, String,
        Array[(Long, Seq[Double], Double)]) => org.apache.spark.sql.DataFrame) =
      f(corpus, "vec_id", "embedding", tied)
        .select(col("vec_id"), col("cid")).as[(Long, Long)].collect().toMap
    val lit = assign(Similarity.assignToQuantizer)
    val bc = assign(Similarity.assignToQuantizerBroadcast)
    assert(bc === lit,
      "broadcast argmax must match the literal assignment on every row")
    // ties really occurred: no row may land on a duplicated high-id
    // centroid (lowest id wins), and the duplicates must shadow rows
    assert(lit.values.forall(_ < 10000L), "ties must resolve to the low id")
  }

  test("default assignment auto-switches to broadcast beyond the literal limit") {
    // 400 rows / 300 cells: above literalCellLimit, so the DEFAULT path
    // (assignToQuantizer → assignTo) must take the broadcast argmax —
    // verified against a driver-side reference argmax with the same
    // (csim desc, cid asc) tie order (r11: broadcast became the
    // large-model default; the clamp lift depends on this regime)
    val corpus = spark.range(400).select(col("id").as("vec_id"),
      expr("""transform(sequence(0, 7), i ->
        cast(cast(xxhash64(vec_id, i) as double) / 4.6e18 as float)""" + ")")
        .as("embedding"))
    val cents = Similarity.trainQuantizer(corpus, "vec_id", "embedding",
      nCentroids = 300)
    assert(cents.length > Similarity.literalCellLimit,
      "fixture must exceed the literal regime")
    val got = Similarity.assignToQuantizer(corpus, "vec_id", "embedding",
        cents)
      .select(col("vec_id"), col("cid")).as[(Long, Long)].collect().toMap
    val vecs = corpus.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    val expect = vecs.map { case (id, v) =>
      val n = math.sqrt(v.map(x => x * x).sum)
      val best = cents.map { case (cid, cv, cn) =>
        (v.zip(cv).map { case (a, b) => a * b }.sum / (n * cn), -cid)
      }.max
      id -> -best._2
    }.toMap
    assert(got === expect,
      "auto-switched broadcast assignment must match the reference argmax")
  }

  test("stored semantic ingest: cid-partition pruning, identical decisions") {
    // 6 well-separated clusters of 15 vectors; batch touches only 2
    val corpus = spark.range(90).select(col("id").as("vec_id"),
      expr("""transform(sequence(0, 7), i ->
        cast(cast(if(i = vec_id % 6, 10.0, 0.0) as double) +
        cast(xxhash64(vec_id, i) as double) / 9.2e18 as float)""" + ")")
        .as("embedding"))
    val cents = Similarity.trainQuantizer(corpus, "vec_id", "embedding",
      nCentroids = 6, trainIters = 2)
    val corpusA = Similarity.assignToQuantizer(corpus, "vec_id", "embedding",
      cents)
    val dir = java.nio.file.Files.createTempDirectory("cidstore").toString
    Similarity.writeAssignedCorpus(corpusA, dir, "vec_id", "embedding")
    // batch: near-copies of clusters 0 and 1 only (+ tiny jitter)
    val batch = corpus.filter(col("vec_id") < 2)
      .withColumn("vec_id", col("vec_id") + lit(1000L))
    val stored = Similarity.semanticDedupIncrementalStored(batch, dir,
      "vec_id", "embedding", cents, tau = 0.9)
    val unpruned = Similarity.semanticDedupIncrementalAssigned(batch, corpusA,
      "vec_id", "embedding", cents, tau = 0.9)
    def decisions(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "cid", "keep").as[(Long, Long, Boolean)].collect().toSet
    assert(decisions(stored) === decisions(unpruned),
      "pruned store must reproduce the unpruned decisions exactly")
    assert(decisions(stored).forall(!_._3),
      "near-copies of corpus vectors must be dropped")
    // the scan must actually PRUNE: only the batch's cells appear as
    // partition filters, and untouched cid directories are never listed
    val scanStr = stored.queryExecution.executedPlan.toString
    assert(scanStr.contains("PartitionFilters") && scanStr.contains("cid"),
      s"corpus scan must carry a cid partition filter:\n$scanStr")
    val touched = Similarity.assignToQuantizer(batch, "vec_id", "embedding",
      cents).select("cid").distinct().as[Long].collect().toSet
    assert(touched.size < 6, "fixture: batch must touch a strict cell subset")
  }

  test("semanticDecontaminate flags eval-near vectors exhaustively, no clustering") {
    val bench = vecs.filter(col("vec_id") === 0L)
    val corpus = vecs.filter(col("vec_id") =!= 0L)
    val res = Similarity.semanticDecontaminate(corpus, bench,
        "vec_id", "embedding", tau = 0.9)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]), r.getBoolean(3)))
      .toMap
    assert(res.keySet === Set(1L, 2L, 3L, 4L), "one verdict per corpus row")
    // v1 and v4 are near v0 (cos ≥ 0.99) → contaminated, regardless of
    // any cluster boundary; v2 (⊥) and v3 (negated) are clean
    assert(res(1L)._1 === 1L && !res(1L)._3 && res(1L)._2.get > 0.99)
    assert(res(4L)._1 === 1L && !res(4L)._3)
    assert(res(2L) === ((0L, None, true)))
    assert(res(3L) === ((0L, None, true)))
  }

  test("decontamination cell prefilter: exact at full probes, finds all planted leakage") {
    // planted contamination: the benchmark slice is verbatim PRESENT in
    // the corpus — the realistic eval-leakage shape (near-copies), where
    // a τ-neighbor shares the argmax cell almost surely
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val corpus = emb
    val bench = emb.filter(col("vec_id") % 5 === 0)
    def run(tau: Double, pf: Long, probes: Int) =
      Similarity.semanticDecontaminate(corpus, bench, "vec_id", "embedding",
          tau, prefilterBenchRows = pf, cellProbes = probes)
        .select("id", "n_hits").as[(Long, Long)].collect().toMap

    val exact = run(0.9, Long.MaxValue, 4)
    // probing every cell degenerates to the exact screen (each corpus
    // row has ONE cid, so every pair meets exactly once)
    assert(run(0.9, 0L, Int.MaxValue) === exact)

    val pre = run(0.9, 0L, 4)
    assert(pre.keySet === exact.keySet, "one verdict per corpus row")
    assert(pre.forall { case (id, h) => h <= exact(id) },
      "the prefilter can only MISS hits, never invent them")
    val planted = bench.select(col("vec_id")).as[Long].collect().toSet
    val dirtyPre = pre.filter(_._2 > 0).keySet
    assert(planted.subsetOf(dirtyPre),
      "all planted near-copies must be flagged through the cell prefilter")

    // the documented trade: at a LOW tau (mid-cosine pairs, not true
    // near-dups) cross-cell neighbors are missed — subset still holds
    val lowExact = run(0.3, Long.MaxValue, 4).filter(_._2 > 0).keySet
    val lowPre = run(0.3, 0L, 4).filter(_._2 > 0).keySet
    assert(lowPre.subsetOf(lowExact))
  }

  test("multi-cell corpus assignment recovers low-tau recall (opt-in corpusCells)") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val bench = emb.filter(col("vec_id") % 5 === 0)
    def hits(pf: Long, m: Int): Map[Long, Long] =
      Similarity.semanticDecontaminate(emb, bench, "vec_id", "embedding",
          tau = 0.3, prefilterBenchRows = pf, cellProbes = 4, corpusCells = m)
        .filter(col("n_hits") > 0)
        .select("id", "n_hits").as[(Long, Long)].collect().toMap
    val exact = hits(Long.MaxValue, 1)
    val m1 = hits(0L, 1)
    val m4 = hits(0L, 4)
    // still an under-approximation — never invents pairs, and the (id, bid)
    // collapse keeps per-row hit counts ≤ the exact count even though a
    // pair can meet through several shared cells
    assert(m4.keySet.subsetOf(exact.keySet))
    assert(m4.forall { case (id, h) => h <= exact(id) })
    // monotone in m: the argmax cell is always among the top-m, so every
    // m=1-reachable pair stays reachable
    assert(m1.keySet.subsetOf(m4.keySet))
    assert(m1.forall { case (id, h) => h <= m4(id) })
    // the point of the knob: single-cell recall at tau=0.3 is the
    // documented ~0.6 weak spot; top-4 corpus cells must restore ≥0.9
    val recall1 = m1.size.toDouble / exact.size
    val recall4 = m4.size.toDouble / exact.size
    assert(recall4 >= 0.9, s"corpusCells=4 recall $recall4 (m=1: $recall1)")
  }

  test("quantizer survives the DataFrame round-trip bit-exact") {
    val cents = Similarity.trainQuantizer(vecs, "vec_id", "embedding",
      nCentroids = 3, trainIters = 2)
    val rt = Similarity.centroidsFromDF(
      Similarity.centroidsToDF(cents, spark))
    assert(rt.toSeq === cents.toSeq)
    // frozen-quantizer dedup under the round-tripped model ≡ original
    val a = Similarity.semanticDedupWithQuantizer(vecs, "vec_id", "embedding",
      cents, tau = 0.9).collect().map(_.toSeq).toSet
    val b = Similarity.semanticDedupWithQuantizer(vecs, "vec_id", "embedding",
      rt, tau = 0.9).collect().map(_.toSeq).toSet
    assert(a === b)
  }

  test("semanticDedup assigns every row to a quantizer centroid id") {
    val cids = Similarity.semanticDedup(vecs, "vec_id", "embedding",
        tau = 0.9, nCentroids = 3)
      .select("cid").as[Long].collect().toSet
    // trainIters = 0 quantizer = lowest-id samples → cids ⊆ {0, 1, 2}
    assert(cids.subsetOf(Set(0L, 1L, 2L)), s"unexpected cids: $cids")
  }

  test("mmrRerank: diversity displaces a near-duplicate; λ=1 degenerates to relevance order") {
    // query at angle 0°; id 1 at −10° (top relevance), id 2 at −12°
    // (near-duplicate of id 1: 2° apart), id 3 at +50° (diverse).
    // NOTE: id 1 must sit OFF the query axis — a top hit exactly on it
    // makes every candidate's penalty equal its own relevance and all
    // step-2 scores tie at 0.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9848f, -0.1736f)),
      (2L, Array(0.9781f, -0.2079f)),
      (3L, Array(0.6428f, 0.766f))).toDF("vec_id", "embedding")
    val mmr = Similarity.mmrRerank(emb, "vec_id", "embedding",
        col("id") === 0L, lambda = 0.5, nCandidates = 3, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getInt(3)))
    // MMR order: 1 (pure relevance), then 3 (0.5·cos50° − 0.5·cos60°
    // ≈ +0.071) beats 2 (0.5·cos12° − 0.5·cos2° ≈ −0.011), then 2 last
    assert(mmr.map(_._1).toSeq === Seq(1L, 3L, 2L), s"mmr order: ${mmr.toSeq}")
    assert(mmr.map(_._4).toSeq === Seq(1, 2, 3))
    // first pick's mmr is exactly λ·cos (empty penalty term)
    assert(mmr(0)._3 === BigDecimal(0.5 * mmr(0)._2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // λ = 1: the penalty vanishes — selection order IS the certified
    // relevance ranking
    val pure = Similarity.mmrRerank(emb, "vec_id", "embedding",
        col("id") === 0L, lambda = 1.0, nCandidates = 3, k = 3)
      .collect().map(_.getLong(0)).toSeq
    val ranked = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        col("id") === 0L, k = 3)
      .orderBy("rn").collect().map(_.getLong(1)).toSeq
    assert(pure === ranked)
    // k capped by the candidate count
    assert(Similarity.mmrRerank(emb, "vec_id", "embedding",
      col("id") === 0L, nCandidates = 5, k = 5).count() === 3L)
    // a NEGATIVE max-sim must RAISE the score, not clamp to zero (the
    // running-max seeding pitfall, r15): id 4 points opposite the query,
    // so its best similarity to any selected doc is ≈ −cos(50°) — its
    // mmr is −0.5 + 0.5·0.6428 ≈ −0.179, not the −0.5 a zero-clamped
    // penalty would give
    val emb4 = emb.unionByName(
      Seq((4L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding"))
    val neg = Similarity.mmrRerank(emb4, "vec_id", "embedding",
        col("id") === 0L, lambda = 0.5, nCandidates = 4, k = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(neg.map(_._1).toSeq === Seq(1L, 3L, 2L, 4L), neg.toSeq.toString)
    val mmr4 = neg.find(_._1 == 4L).get._2
    assert(mmr4 > -0.2 && mmr4 < -0.15,
      s"negative max-sim must feed the penalty: got $mmr4")
  }

  test("searchPqIndexPointQuery ≡ searchPqIndex for the same single-query predicate") {
    val emb = spark.range(60).select(col("id").as("vec_id"),
      array((0 until 8).map(d =>
        sin((col("id") + 1) * (d + 1)).cast("float")): _*).as("embedding"))
    val (model, idx) = Similarity.buildPqIndex(emb, "vec_id", "embedding",
      nCentroids = 4, m = 4, kSub = 8, trainIters = 0, pqIters = 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    for (nProbe <- Seq(1, 2, 4); rf <- Seq(1, 4)) {
      val want = rows(Similarity.searchPqIndex(model, idx, emb,
        "vec_id", "embedding", col("id") === 10L, k = 5,
        nProbe = nProbe, rerankFactor = rf))
      val got = rows(Similarity.searchPqIndexPointQuery(model, idx, emb,
        "vec_id", "embedding", 10L, k = 5,
        nProbe = nProbe, rerankFactor = rf))
      assert(got === want,
        s"point-query search must be bit-equal at nProbe=$nProbe rf=$rf")
    }
    // an empty model degrades to an empty result, like searchPqIndex
    val none = Similarity.searchPqIndexPointQuery(
      Similarity.PqModel(Array.empty, Array(Array.empty)),
      idx, emb, "vec_id", "embedding", 10L, k = 5)
    assert(none.count() === 0L)
  }

  test("mmrRerank: NaN embeddings are dropped, not ranked first (ADVICE r14)") {
    // a NaN-component vector's cosine is NaN; Spark's descending order
    // puts NaN FIRST, so without the finite filter it would enter the
    // greedy and crash round6's BigDecimal(NaN). With it, the result is
    // identical to the clean corpus. (A ZERO-norm vector fails louder
    // and earlier: ANSI mode refuses the 0-divisor cosine inside
    // bruteForceTopK itself.)
    val clean = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9848f, -0.1736f)),
      (2L, Array(0.9781f, -0.2079f)),
      (3L, Array(0.6428f, 0.766f))).toDF("vec_id", "embedding")
    val dirty = clean.unionByName(
      Seq((4L, Array(Float.NaN, 0.0f))).toDF("vec_id", "embedding"))
    val got = Similarity.mmrRerank(dirty, "vec_id", "embedding",
        col("id") === 0L, lambda = 0.5, nCandidates = 4, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getInt(3)))
    val want = Similarity.mmrRerank(clean, "vec_id", "embedding",
        col("id") === 0L, lambda = 0.5, nCandidates = 4, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getInt(3)))
    assert(got.toSeq === want.toSeq,
      "a degenerate vector must not perturb the MMR selection")
    assert(!got.map(_._1).contains(4L))
  }

  test("mmrRerank: NaN doc must not consume a candidate slot when nCandidates binds (ADVICE r15)") {
    // nCandidates = 2 binds HARD on the 3 real non-query docs. The NaN
    // doc ranks FIRST under Spark's NaN-high descending order, so a
    // post-window filter would leave only ONE real candidate (the r15
    // displacement bug: got {1} instead of {1, 3}); the pre-window
    // finite filter keeps the top-2 REAL candidates and the selection
    // equals the clean corpus exactly.
    val clean = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9848f, -0.1736f)),
      (2L, Array(0.9781f, -0.2079f)),
      (3L, Array(0.6428f, 0.766f))).toDF("vec_id", "embedding")
    val dirty = clean.unionByName(
      Seq((4L, Array(Float.NaN, 0.0f))).toDF("vec_id", "embedding"))
    val got = Similarity.mmrRerank(dirty, "vec_id", "embedding",
        col("id") === 0L, lambda = 0.5, nCandidates = 2, k = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val want = Similarity.mmrRerank(clean, "vec_id", "embedding",
        col("id") === 0L, lambda = 0.5, nCandidates = 2, k = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(got.length === 2,
      s"the NaN doc displaced a real candidate from the bound pool: ${got.toSeq}")
    assert(got.toSeq === want.toSeq)
  }

  test("searchPqIndexPoints ≡ fold of searchPoint; vector reads range-pruned; no corpus exchange (r16)") {
    val emb = spark.range(60).select(col("id").as("vec_id"),
      array((0 until 8).map(d =>
        sin((col("id") + 1) * (d + 1)).cast("float")): _*).as("embedding"))
    val (model, idx) = Similarity.buildPqIndex(emb, "vec_id", "embedding",
      nCentroids = 4, m = 4, kSub = 8, trainIters = 0, pqIters = 0)
    val queryIds = Seq(5L, 10L, 23L, 40L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    for (nProbe <- Seq(1, 4); rf <- Seq(1, 4)) {
      val want = queryIds.map(q =>
        rows(Similarity.searchPqIndexPointQuery(model, idx, emb,
          "vec_id", "embedding", q, k = 5,
          nProbe = nProbe, rerankFactor = rf))).reduce(_ ++ _)
      val got = rows(Similarity.searchPqIndexPoints(model, idx, emb,
        "vec_id", "embedding", queryIds.toDF("vec_id"), k = 5,
        nProbe = nProbe, rerankFactor = rf))
      assert(got === want,
        s"batch point query must equal the per-id fold at nProbe=$nProbe rf=$rf")
    }
    // degenerate inputs degrade to empty results, never errors
    assert(Similarity.searchPqIndexPoints(model, idx, emb, "vec_id",
      "embedding", queryIds.toDF("vec_id").filter(lit(false)), k = 5)
      .count() === 0L, "empty query set")
    assert(Similarity.searchPqIndexPoints(
      Similarity.PqModel(Array.empty, Array(Array.empty)), idx, emb,
      "vec_id", "embedding", queryIds.toDF("vec_id"), k = 5)
      .count() === 0L, "empty model")
    // plan pin (VERDICT r15 #1): with the vectors PERSISTED, every
    // FileScan of the embeddings table inside the batch query must carry
    // a pushed RANGE filter on vec_id (the min/max bounds — no isin
    // literal list, no unfiltered corpus read), and no join may put the
    // corpus through an exchange (shortlist + query sides broadcast).
    val embDir = java.nio.file.Files
      .createTempDirectory("graft_pqpoints_emb").toString
    emb.write.mode("overwrite").parquet(embDir)
    val embP = spark.read.parquet(embDir)
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString; () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // built INSIDE the listener window: the operator's eager jobs
      // (bounds aggs, shortlist checkpoint) read the vector table too
      Similarity.searchPqIndexPoints(model, idx, embP, "vec_id",
        "embedding", queryIds.toDF("vec_id"), k = 5,
        nProbe = 2, rerankFactor = 2).count()
      org.apache.spark.GraftListenerBridge
        .waitListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val embScans = plans.synchronized {
      plans.flatMap(_.linesIterator)
        .filter(l => l.contains("FileScan") && l.contains("graft_pqpoints_emb"))
    }
    assert(embScans.nonEmpty, "the plan pin must bind to at least one scan")
    val unfiltered = embScans.filterNot(l =>
      l.contains("GreaterThanOrEqual(vec_id") &&
        l.contains("LessThanOrEqual(vec_id"))
    assert(unfiltered.isEmpty,
      "every embeddings read must be range-pruned:\n" +
        unfiltered.mkString("\n"))
    assert(!plans.synchronized(plans.exists(_.contains("SortMergeJoin"))),
      "the batch point query must never shuffle the corpus into a join")
  }

  test("maxSimTopK: hand-computed late-interaction scores, query-doc exclusion, ties, k (r16)") {
    // token bags, dim 2: query doc 0 = {(1,0), (0,1)}; doc 1 covers both
    // aspects (score 2.0); doc 3's single token splits them (0.6 + 0.8 =
    // 1.4 — the case single-vector pooling can't express); docs 2 and 4
    // cover only the first aspect (1.0 each — doc-id tie-break)
    val toks = Seq(
      (0L, 1L, Array(1.0f, 0.0f)), (0L, 2L, Array(0.0f, 1.0f)),
      (1L, 11L, Array(1.0f, 0.0f)), (1L, 12L, Array(0.0f, 1.0f)),
      (2L, 21L, Array(1.0f, 0.0f)), (2L, 22L, Array(1.0f, 0.0f)),
      (3L, 31L, Array(0.6f, 0.8f)),
      (4L, 41L, Array(1.0f, 0.0f)), (4L, 42L, Array(1.0f, 0.0f))
    ).toDF("doc", "tok", "vec")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
        .sortBy(_._3).toSeq
    val got = rows(Similarity.maxSimTopK(toks, "doc", "tok", "vec",
      col("id") <= 2L, k = 10))
    assert(got === Seq((1L, 2.0, 1), (3L, 1.4, 2), (2L, 1.0, 3),
      (4L, 1.0, 4)),
      "scores must be per-query-token maxima summed, query doc excluded")
    // k truncates the ranked list, never reorders it
    assert(rows(Similarity.maxSimTopK(toks, "doc", "tok", "vec",
      col("id") <= 2L, k = 2)) === got.take(2))
    // empty query token set degrades to an empty frame, not an error
    assert(Similarity.maxSimTopK(toks, "doc", "tok", "vec",
      col("id") < 0L, k = 3).count() === 0L)
  }

  test("maxSimTopKIndexed: full coverage ≡ exact; narrow shortlist exact-on-candidates; reads pruned (r16)") {
    val toks = spark.range(90).select(
      expr("id DIV 3").as("doc"), col("id").as("tok"),
      array((0 until 8).map(d =>
        sin((col("id") + 1) * (d + 1)).cast("float")): _*).as("vec"))
    val (model, idx) = Similarity.buildPqIndex(toks, "tok", "vec",
      nCentroids = 8, m = 4, kSub = 8, trainIters = 0, pqIters = 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
        .sortBy(_._3).toSeq
    val exact = rows(Similarity.maxSimTopK(toks, "doc", "tok", "vec",
      col("id") <= 2L, k = 8))
    // full coverage (all cells probed, shortlist ≥ corpus): candidates =
    // every non-query doc, so the indexed form must equal exact BIT FOR BIT
    assert(rows(Similarity.maxSimTopKIndexed(model, idx, toks, "doc",
      "tok", "vec", col("id") <= 2L, k = 8,
      kTok = 90, nProbe = 8, rerankFactor = 1)) === exact)
    // narrow shortlists bound WHICH docs compete, never how one scores:
    // every returned (doc, score) must match the exact form's score
    val exactScores = rows(Similarity.maxSimTopK(toks, "doc", "tok",
      "vec", col("id") <= 2L, k = 30)).map(t => t._1 -> t._2).toMap
    val narrow = rows(Similarity.maxSimTopKIndexed(model, idx, toks,
      "doc", "tok", "vec", col("id") <= 2L, k = 8,
      kTok = 2, nProbe = 1, rerankFactor = 1))
    assert(narrow.nonEmpty && narrow.size <= 8)
    narrow.foreach { case (doc, score, _) =>
      assert(exactScores(doc) === score,
        s"candidate doc $doc must carry its exact MaxSim score")
    }
    // empty model degrades to an empty frame
    assert(Similarity.maxSimTopKIndexed(
      Similarity.PqModel(Array.empty, Array(Array.empty)), idx, toks,
      "doc", "tok", "vec", col("id") <= 2L, k = 8).count() === 0L)
    // plan pin: with the token table PERSISTED (doc materialized), every
    // FileScan inside the indexed form is range/pred-pruned — the query
    // read by the token predicate, the mapping and corpus reads by the
    // shortlist/candidate min-max bounds — and the corpus never crosses
    // a shuffled join
    val tokDir = java.nio.file.Files
      .createTempDirectory("graft_maxsim_toks").toString
    toks.write.mode("overwrite").parquet(tokDir)
    val toksP = spark.read.parquet(tokDir)
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString; () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Similarity.maxSimTopKIndexed(model, idx, toksP, "doc", "tok",
        "vec", col("id") <= 2L, k = 8,
        kTok = 3, nProbe = 2, rerankFactor = 2).count()
      org.apache.spark.GraftListenerBridge
        .waitListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val tokScans = plans.synchronized {
      plans.flatMap(_.linesIterator)
        .filter(l => l.contains("FileScan") && l.contains("graft_maxsim_toks"))
    }
    assert(tokScans.nonEmpty, "the plan pin must bind to at least one scan")
    val unfiltered = tokScans.filterNot(_.contains("ThanOrEqual("))
    assert(unfiltered.isEmpty,
      "every token-table read must carry a pushed bound:\n" +
        unfiltered.mkString("\n"))
    assert(!plans.synchronized(plans.exists(_.contains("SortMergeJoin"))),
      "index-bound MaxSim must never shuffle the corpus into a join")
  }

  test("maxSimTopKBatch / maxSimTopKIndexedBatch ≡ per-query-doc folds; empty batch degrades (r16)") {
    val toks = spark.range(90).select(
      expr("id DIV 3").as("doc"), col("id").as("tok"),
      array((0 until 8).map(d =>
        sin((col("id") + 1) * (d + 1)).cast("float")): _*).as("vec"))
    val (model, idx) = Similarity.buildPqIndex(toks, "tok", "vec",
      nCentroids = 8, m = 4, kSub = 8, trainIters = 0, pqIters = 0)
    val qdocs = Seq(0L, 7L, 15L)
    def bag(qd: Long) = col("id") >= qd * 3 && col("id") <= qd * 3 + 2
    def grouped(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getInt(3))))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // exact batch ≡ fold of the single exact form (each query excludes
    // only its own doc; other query docs stay candidates, as in the fold)
    val exactBatch = grouped(Similarity.maxSimTopKBatch(toks, "doc",
      "tok", "vec", qdocs.toDF("qdoc"), k = 8))
    qdocs.foreach { qd =>
      val want = Similarity.maxSimTopK(toks, "doc", "tok", "vec",
          bag(qd), k = 8)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
        .toSet
      assert(exactBatch(qd) === want,
        s"exact batch must equal the single fold for query doc $qd")
    }
    // indexed batch ≡ fold of the single indexed form at NARROW
    // coverage (per-token shortlists are per-query independent)
    val idxBatch = grouped(Similarity.maxSimTopKIndexedBatch(model, idx,
      toks, "doc", "tok", "vec", qdocs.toDF("qdoc"), k = 8,
      kTok = 4, nProbe = 2, rerankFactor = 2))
    qdocs.foreach { qd =>
      val want = Similarity.maxSimTopKIndexed(model, idx, toks, "doc",
          "tok", "vec", bag(qd), k = 8,
          kTok = 4, nProbe = 2, rerankFactor = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
        .toSet
      assert(idxBatch.getOrElse(qd, Set.empty) === want,
        s"indexed batch must equal the single indexed fold for query doc $qd")
    }
    // full coverage: the indexed batch must equal the exact batch
    assert(grouped(Similarity.maxSimTopKIndexedBatch(model, idx, toks,
      "doc", "tok", "vec", qdocs.toDF("qdoc"), k = 8,
      kTok = 90, nProbe = 8, rerankFactor = 1)) === exactBatch)
    // empty batch → empty frame, both forms
    val none = qdocs.toDF("qdoc").filter(lit(false))
    assert(Similarity.maxSimTopKBatch(toks, "doc", "tok", "vec",
      none, k = 8).count() === 0L)
    assert(Similarity.maxSimTopKIndexedBatch(model, idx, toks, "doc",
      "tok", "vec", none, k = 8).count() === 0L)
  }

  test("recallAtK: overlap per reference query, silent misses surface as 0 (r16)") {
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 20L), (2L, 21L), (3L, 30L))
      .toDF("query_id", "neighbor_id")
    // q1: 2/3 recovered; q2: 0/2 (wrong neighbors); q3 missed ENTIRELY —
    // it must still appear, with 0 hits (silent misses are the point)
    val approx = Seq((1L, 10L), (1L, 12L), (1L, 99L),
      (2L, 98L), (2L, 97L))
      .toDF("query_id", "neighbor_id")
    val got = Similarity.recallAtK(approx, exact).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    assert(got === Seq((1L, 2L, 3L, 0.666667), (2L, 0L, 2L, 0.0),
      (3L, 0L, 1L, 0.0)))
    // extra ranked columns on either side are ignored
    val withExtra = Similarity.recallAtK(
      approx.withColumn("rn", lit(1)), exact.withColumn("cos", lit(0.5)))
    assert(withExtra.columns.toSeq ===
      Seq("query_id", "hits", "n_exact", "recall"))
    // a duplicated row on either side must not double-count: recall
    // stays a fraction of the DISTINCT reference set
    val dup = Similarity.recallAtK(approx.union(approx),
        exact.union(exact)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    assert(dup === got)
  }
}
