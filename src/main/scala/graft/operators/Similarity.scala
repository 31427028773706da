package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Approximate-nearest-neighbour search over an embedding column
 * (`Array[Float]`) — training-data pipeline similarity operators.
 *
 * Scale design:
 *  - `bruteForceTopK` is the exactness baseline: query×corpus join. Both
 *    sides are pre-normalised ONCE (cosine = dot of unit vectors), the dot
 *    product runs on primitive arrays in a single UDF, and the per-query
 *    top-k is a rank window AFTER a size-guarded join. At 100 TB you never
 *    run this unblocked — it exists to measure recall of the bucketed paths.
 *  - `cosinePairs`: EXACT all-pairs ≥ threshold via a triangular BLOCK join:
 *    vectors are grouped into B blocks; each of the B(B+1)/2 block pairs is
 *    one task computing its pairs on primitive float arrays (no per-pair row
 *    boxing, no cartesian shuffle). Work is O(n²/P) per task with O(n·√P)
 *    replication — the standard distributed exact-similarity-join layout.
 *  - `lshNearDupPairs`: the APPROXIMATE scale path for high thresholds —
 *    hyperplane-LSH candidate pairs + exact cosine verify (recall measured
 *    against `cosinePairs` in DedupSimilaritySpec on planted near-dups).
 *  - `lshTopK`: random-hyperplane signatures; candidates share a signature
 *    band (shuffle on band key), then exact re-rank within candidates.
 *  - `ivfTopK`: IVF — deterministic k-means-lite centroids (md5-ordered
 *    seeds + one Lloyd pass, all distributed), vectors assigned to nearest
 *    centroid list; queries probe the nProbe nearest lists only ⇒ the join
 *    touches ~nProbe/k of the corpus. Centroids are broadcast (k is small).
 *
 * Determinism note: every pseudo-random constant (hyperplane components,
 * seed selection) derives from md5, so the DuckDB oracles in SparkEntry can
 * recompute identical signatures/assignments in pure SQL.
 */
object Similarity {

  private val normalizeUdf = udf((v: Seq[Float]) => {
    val a = v.toArray
    val n = TextFunctions.norm(a)
    if (n == 0.0) a else a.map(x => (x / n).toFloat)
  })
  private val dotUdf = udf((a: Seq[Float], b: Seq[Float]) =>
    TextFunctions.dot(a.toArray, b.toArray))
  private val hpSigUdf = udf((v: Seq[Float], bits: Int, table: Int) =>
    TextFunctions.hyperplaneSignature(v.toArray, bits, table))

  /** Add a unit-norm copy of the embedding column. */
  def withUnitNorm(df: DataFrame, embCol: String = "embedding",
      outCol: String = "unit"): DataFrame =
    df.withColumn(outCol, normalizeUdf(col(embCol)))

  /** Exact cosine top-k neighbours for each query id (default: all ids).
   * Returns (vec_id, neighbour_id, cosine, rank). */
  def bruteForceTopK(vectors: DataFrame, k: Int, queryIds: Option[Seq[Long]] = None,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val unit = withUnitNorm(vectors.select(col(idCol), col(embCol)), embCol)
    val queries = queryIds match {
      case Some(ids) => unit.filter(col(idCol).isin(ids: _*))
      case None => unit
    }
    val q = queries.select(col(idCol).as("vec_id"), col("unit").as("q_unit"))
    val c = unit.select(col(idCol).as("neighbour_id"), col("unit").as("c_unit"))
    // cosine computed AT the join, then the wide unit arrays dropped before
    // the rank window — its partitionBy(vec_id) exchange moves 3 narrow
    // columns, not 2×dim floats per candidate row
    val scored = q.join(c, col("vec_id") =!= col("neighbour_id"))
      .withColumn("cosine", dotUdf(col("q_unit"), col("c_unit")))
      .select("vec_id", "neighbour_id", "cosine")
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cosine").desc, col("neighbour_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("vec_id", "neighbour_id", "cosine", "rank")
  }

  /** All pairs (a<b) with cosine ≥ threshold — EXACT embedding near-dup.
   *
   * Triangular block self-join: ids are bucketed into `blocks` groups; the
   * (i ≤ j) block-pair grid is exploded so each grid cell is one task. The
   * inner loop runs on primitive float arrays with precomputed norms — no
   * per-pair Row/Seq boxing (the naive `a.join(b, id_a < id_b)` cartesian
   * pays an encoder round-trip per PAIR; this pays one per VECTOR per block
   * replication). Exactness makes it oracle-checkable with brute-force SQL.
   *
   * Sizing `blocks` at scale: grid cells = B(B+1)/2 tasks, each holding
   * ~2n/B vectors — raise B ∝ √n so per-cell memory stays bounded;
   * replication per side is B+1 ≈ O(√P). The default 16 suits ≤10^5
   * vectors; at 10^6 use ~64, at 10^7 use ~256 — or switch to
   * `lshNearDupPairs`, the sub-quadratic path for high thresholds. */
  def cosinePairs(vectors: DataFrame, threshold: Double, blocks: Int = 16,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.StringType
    // ids keep their ORIGINAL type through the pair output (string-keyed
    // corpora are first-class — Dedup's doc_id is a string); block routing is
    // hash-based either way, so routing never depends on ids being numeric
    vectors.schema(idCol).dataType match {
      case StringType =>
        val src = vectors.select(col(idCol).cast("string"), col(embCol))
          .as[(String, Seq[Float])]
        cosinePairsTyped[String](src, blocks, threshold,
          id => graft.functions.BloomSketch.hash(id, 0xb10cL))
      case _ =>
        val src = vectors.select(col(idCol).cast("long"), col(embCol))
          .as[(Long, Seq[Float])]
        cosinePairsTyped[Long](src, blocks, threshold, identity)
    }
  }

  /** Shared triangular-block kernel; `route` maps an id to a stable 64-bit
   * value whose mod-B residue is the block. */
  private def cosinePairsTyped[K: org.apache.spark.sql.Encoder : Ordering](
      src: org.apache.spark.sql.Dataset[(K, Seq[Float])], blocks: Int,
      threshold: Double, route: K => Long)(
      implicit enc3: org.apache.spark.sql.Encoder[(Long, Int, K, Seq[Float])],
      encOut: org.apache.spark.sql.Encoder[(K, K, Double)]): DataFrame = {
    val b = math.max(1, blocks)
    val ord = implicitly[Ordering[K]]
    implicit val gridKeyEnc: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
    // route each vector to its block, replicate to every (block, otherBlock)
    // grid row it participates in; grid key = (min, max) so each unordered
    // block pair materialises exactly once
    val routed = src.flatMap { case (id, emb) =>
      val blk = Math.floorMod(route(id), b.toLong).toInt
      (0 until b).iterator.map { other =>
        val key = if (blk <= other) blk.toLong * b + other else other.toLong * b + blk
        (key, blk, id, emb)
      }
    }
    val thr = threshold
    // groupByKey supplies the one grid-key shuffle; each grid cell
    // (unordered block pair) is one task
    routed
      .groupByKey(_._1)
      .flatMapGroups { (grid, it) =>
        val lo = (grid / b).toInt
        val hi = (grid % b).toInt
        val left = scala.collection.mutable.ArrayBuffer.empty[(K, Array[Float], Double)]
        val right = scala.collection.mutable.ArrayBuffer.empty[(K, Array[Float], Double)]
        it.foreach { case (_, blk, id, emb) =>
          val a = emb.toArray
          val row = (id, a, TextFunctions.norm(a))
          if (blk == lo) left += row
          if (blk == hi && lo != hi) right += row
        }
        val rs = if (lo == hi) left else right
        val out = Seq.newBuilder[(K, K, Double)]
        var i = 0
        while (i < left.length) {
          val (ia, va, na) = left(i)
          var j = if (lo == hi) i + 1 else 0
          while (j < rs.length) {
            val (ib, vb, nb) = rs(j)
            if (ia != ib && na != 0.0 && nb != 0.0) {
              val cos = TextFunctions.dot(va, vb) / (na * nb)
              if (cos >= thr) {
                if (ord.lt(ia, ib)) out += ((ia, ib, cos)) else out += ((ib, ia, cos))
              }
            }
            j += 1
          }
          i += 1
        }
        out.result().iterator
      }
      .toDF("id_a", "id_b", "cosine")
  }

  /** APPROXIMATE near-dup pairs for HIGH thresholds (≥ ~0.8) — hyperplane-LSH
   * candidates + exact cosine verify. At web scale this is the path: a
   * τ=0.9 pair agrees on a `bits`-bit signature with prob (1-θ/π)^bits, so
   * `tables` independent signatures give recall 1-(1-p^bits)^tables while
   * pruning the quadratic candidate space to hash-bucket collisions.
   * Precision is exact (every candidate is cosine-verified). */
  def lshNearDupPairs(vectors: DataFrame, threshold: Double, bits: Int = 8,
      tables: Int = 16, maxBucket: Int = 1024,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val unit = withUnitNorm(vectors.select(col(idCol), col(embCol)), embCol)
      .select(col(idCol).as("id"), col("unit"))
    val sigs = (0 until tables).map { t =>
      unit.select(col("id"), col("unit"),
        lit(t).as("tbl"), hpSigUdf(col("unit"), lit(bits), lit(t)).as("sig"))
    }.reduce(_ unionByName _)
    val sized = sigs.withColumn("bucket_n",
      count(lit(1)).over(Window.partitionBy("tbl", "sig")))
      .filter(col("bucket_n") <= maxBucket)
    // candidate ids only through the join+dedup shuffles; vectors re-attached once
    val a = sized.select(col("tbl"), col("sig"), col("id").as("id_a"))
    val bside = sized.select(col("tbl"), col("sig"), col("id").as("id_b"))
    val pairs = a.join(bside, Seq("tbl", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    pairs
      .join(unit.select(col("id").as("id_a"), col("unit").as("u_a")), Seq("id_a"))
      .join(unit.select(col("id").as("id_b"), col("unit").as("u_b")), Seq("id_b"))
      .withColumn("cosine", dotUdf(col("u_a"), col("u_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** LSH-bucketed ANN: hyperplane signature bands → candidates share a band
   * → exact re-rank. `tables` independent signatures trade recall for cost.
   *
   * Shuffle discipline (the q18 round-2 lesson applied here): the band
   * join, candidate dedup and rank window move IDS ONLY — the 2×dim-float
   * unit arrays would otherwise ride three exchanges per candidate; they
   * re-attach exactly once per SURVIVING candidate for the cosine. */
  def lshTopK(vectors: DataFrame, k: Int, bits: Int = 16, tables: Int = 4,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    // normalization is re-read by every signature table and both re-attach
    // joins (tables + 2 subtree scans); cache it once — the unit-norm table
    // IS the operator's index, the standard resident state of an ANN query
    val unit = withUnitNorm(vectors.select(col(idCol), col(embCol)), embCol)
      .select(col(idCol).as("id"), col("unit")).persist()
    // all `tables` signatures in ONE projection + explode (r6): the previous
    // per-table union gave the plan `tables` near-identical branches — one
    // whole-stage-codegen compile and one cache scan each — for the same
    // band keys this single pass emits
    val tablesDf = unit.select(col("id"), explode(array((0 until tables).map { t =>
      concat_ws(":", lit(t), hpSigUdf(col("unit"), lit(bits), lit(t)))
    }: _*)).as("band_key"))
    val a = tablesDf.select(col("band_key"), col("id").as("vec_id"))
    val b = tablesDf.select(col("band_key"), col("id").as("neighbour_id"))
    val cand = a.join(b, Seq("band_key"))
      .filter(col("vec_id") =!= col("neighbour_id"))
      .select("vec_id", "neighbour_id")
      .dropDuplicates("vec_id", "neighbour_id")
    // neighbour re-attach FIRST, vec_id last: when these joins shuffle (at
    // scale; they broadcast at bench size), the last exchange leaves the
    // rows hash-partitioned by vec_id — exactly the rank window's
    // partitionBy key, so the window adds no exchange of its own (§2.4)
    val scored = cand
      .join(unit.select(col("id").as("neighbour_id"), col("unit").as("c_unit")), Seq("neighbour_id"))
      .join(unit.select(col("id").as("vec_id"), col("unit").as("q_unit")), Seq("vec_id"))
      .withColumn("cosine", dotUdf(col("q_unit"), col("c_unit")))
      .select("vec_id", "neighbour_id", "cosine")
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cosine").desc, col("neighbour_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("vec_id", "neighbour_id", "cosine", "rank")
  }

  /** Deterministic per-list refine sample: the `n` rows with smallest
   * (md5(id), id) per `list`. Exact top-n by a total order, computed as a
   * salted two-stage rank so NO task ever sorts a whole list (at 10^9
   * vectors one IVF list is n/nLists rows — a single-window rank would be
   * one straggler sort task per list; stage 2 here sees ≤ salt·n rows per
   * list). Input needs columns (list, id, ...); output keeps them. */
  private[graft] def refineSampleRows(assigned: DataFrame, n: Int,
      saltBuckets: Int = 16): DataFrame = {
    val order = Seq(md5(col("id").cast("string")).asc, col("id").asc)
    val w1 = Window
      .partitionBy(col("list"), pmod(xxhash64(col("id")), lit(saltBuckets)))
      .orderBy(order: _*)
    val survivors = assigned.withColumn("_rn1", row_number().over(w1))
      .filter(col("_rn1") <= n)
    val w2 = Window.partitionBy(col("list")).orderBy(order: _*)
    survivors.withColumn("_rn2", row_number().over(w2))
      .filter(col("_rn2") <= n)
      .drop("_rn1", "_rn2")
  }

  /** IVF ANN: deterministic centroids (md5-ordered seed sample + one Lloyd
   * pass), nProbe-list probing, exact re-rank inside probed lists.
   * Every tie and every float accumulation order is pinned (seeds by md5 of
   * id; per-list mean summed in id order) so the result is reproducible by
   * the SQL oracle.
   *
   * Id contract: `idCol` must be INTEGRAL (the refine pass encodes it as
   * Long for the deterministic per-list summation order the oracle
   * replicates). String-keyed corpora — which cosinePairs/lshNearDupPairs
   * accept — need a dense numeric id first (`zipWithUniqueId` / hash); the
   * require below turns the analysis-time upcast error into a direct
   * message. */
  def ivfTopK(vectors: DataFrame, k: Int, nLists: Int = 16, nProbe: Int = 4,
      refineSample: Int = 4096,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    require(Seq("long", "int", "integer", "bigint", "smallint", "tinyint")
        .contains(vectors.schema(idCol).dataType.typeName),
      s"ivfTopK needs an integral id column; '$idCol' is " +
      s"${vectors.schema(idCol).dataType.typeName} — assign a numeric id " +
      "(e.g. zipWithUniqueId) or use cosinePairs/lshNearDupPairs, which " +
      "accept any key type")
    val unit = withUnitNorm(vectors.select(col(idCol), col(embCol)), embCol)
      .select(col(idCol).as("id"), col("unit")).persist()
    try {
      // seed centroids: the nLists vectors with smallest md5(id) — deterministic,
      // distributed (orderBy + limit on a narrow projection), SQL-reproducible
      val seedRows = unit
        .withColumn("h", md5(col("id").cast("string")))
        .orderBy("h").limit(nLists).select("unit").collect()
        .map(_.getSeq[Float](0).toArray)
      if (seedRows.isEmpty) // empty input: empty result, same schema
        return unit.select(col("id").as("vec_id"), col("id").as("neighbour_id"),
          lit(0.0).as("cosine"), lit(0).as("rank")).limit(0)
      val lists = math.min(nLists, seedRows.length) // can't have more lists than rows

      // one Lloyd refinement pass: assign → mean per cluster. The mean is a
      // typed mapGroups (one pass over primitive arrays) rather than dim-many
      // avg() columns — a 64-wide aggregate costs seconds of codegen
      // compilation alone and dominates small inputs. Rows are summed in id
      // order (deterministic float accumulation). The refine set is CAPPED at
      // `refineSample` vectors per list — a centroid mean needs a sample, not
      // the population — so each mapGroups group is bounded however large the
      // corpus; the sample is the refineSample rows with smallest (md5(id),
      // id) per list, SQL-reproducible and selected without a full-list sort
      // (salted two-stage rank, same idiom as Politeness).
      val bcSeed = spark.sparkContext.broadcast(seedRows)
      val assignUdf = udf((v: Seq[Float]) => {
        val a = v.toArray
        var best = 0; var bestD = Double.MinValue; var i = 0
        val cs = bcSeed.value
        while (i < cs.length) {
          val d = TextFunctions.dot(a, cs(i))
          if (d > bestD) { bestD = d; best = i }
          i += 1
        }
        best
      })
      val dim = seedRows.head.length
      val assigned = unit.withColumn("list", assignUdf(col("unit")))
      val refined = refineSampleRows(assigned, refineSample)
        .select(col("list"), col("id"), col("unit")).as[(Int, Long, Seq[Float])]
        .groupByKey(_._1)
        .mapGroups { (list, it) =>
          val rows = it.toArray.sortBy(_._2) // id order: deterministic fp sum
          val sum = new Array[Double](dim)
          rows.foreach { case (_, _, v) =>
            var i = 0
            while (i < dim) { sum(i) += v(i); i += 1 }
          }
          (list, sum.map(x => (x / rows.length).toFloat).toSeq)
        }
        .collect()
        .map { case (list, c) => list -> c.toArray }
        .toMap
      val centroids = (0 until lists).map(i => refined.getOrElse(i, seedRows(i)))
      val bcC = spark.sparkContext.broadcast(centroids.toArray)

      val assignFinal = udf((v: Seq[Float]) => {
        val a = v.toArray
        var best = 0; var bestD = Double.MinValue; var i = 0
        val cs = bcC.value
        while (i < cs.length) {
          val d = TextFunctions.dot(a, cs(i))
          if (d > bestD) { bestD = d; best = i }
          i += 1
        }
        best
      })
      val probeLists = udf((v: Seq[Float], np: Int) => {
        val a = v.toArray
        bcC.value.zipWithIndex
          .map { case (c, i) => (TextFunctions.dot(a, c), i) }
          .sortBy { case (d, i) => (-d, i) }.take(np).map(_._2)
      })

      // ids-only through the probe join, dedup and rank window (the q18
      // round-2 lesson): the nProbe-replicated query rows and every
      // candidate row would otherwise carry dim-float arrays through three
      // exchanges; units re-attach once per surviving candidate
      val indexed = unit.select(col("id").as("neighbour_id"),
        assignFinal(col("unit")).as("list"))
      val queries = unit
        .select(col("id").as("vec_id"),
          explode(probeLists(col("unit"), lit(nProbe))).as("list"))
      // no pair dedup needed (unlike lshTopK): each neighbour lives in
      // EXACTLY one list and a query's probed lists are distinct, so the
      // list join emits every (vec, neighbour) pair at most once — the
      // previous dropDuplicates was an exchange + aggregate for an identity.
      // The explicit hash repartition keeps what that exchange silently
      // provided: the candidate fan-out (|queries|·n/nLists pairs per probed
      // list) spreads across the cluster BEFORE the dot-product re-attach
      // (with the small sides broadcast, nothing else would break the
      // list-join's few-partition layout — measured as one straggler task
      // computing every cosine). Ids-only rows move, and hash(vec_id) is
      // exactly the rank window's required distribution, so the window adds
      // no exchange after it.
      val cand = queries.join(indexed, Seq("list"))
        .filter(col("vec_id") =!= col("neighbour_id"))
        .select("vec_id", "neighbour_id")
        .repartition(col("vec_id"))
      // neighbour first, vec_id last — the final exchange (when shuffling at
      // scale) then matches the rank window's partitionBy(vec_id), §2.4
      val scored = cand
        .join(unit.select(col("id").as("neighbour_id"), col("unit").as("c_unit")), Seq("neighbour_id"))
        .join(unit.select(col("id").as("vec_id"), col("unit").as("q_unit")), Seq("vec_id"))
        .withColumn("cosine", dotUdf(col("q_unit"), col("c_unit")))
        .select("vec_id", "neighbour_id", "cosine")
      val w = Window.partitionBy("vec_id")
        .orderBy(col("cosine").desc, col("neighbour_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("vec_id", "neighbour_id", "cosine", "rank")
    } catch {
      // on failure nothing downstream will read the cache — release it
      case e: Throwable => unit.unpersist(); throw e
    }
    // deliberately NOT unpersisted on success (r6): the returned plan reads
    // `unit` four times (probe index, query explode, both cosine re-attach
    // joins) — unpersisting here re-derived it with four parquet scans + four
    // normalization passes in the final job. The cached unit-norm table is
    // the operator's index (resident state of an ANN query); callers that
    // need the memory back clear the session cache after consuming the
    // result (spark.catalog.clearCache()).
  }
}
