package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.ann.SimilarityOps

/** Property pin for the shared argmin-distance kernel behind centroid
  * assignment and PQ encoding (`SimilarityOps.argminDist`, rewritten in r10
  * from per-centroid distance COLUMNS to one array expression +
  * `array_position(d, array_min(d))`): against random vectors and random
  * codebooks — including duplicated centroids that force exact distance
  * ties — the assignment must equal a driver-side naive argmin with the
  * lowest-k tie rule, and the kept minimum distance must be the naive
  * minimum bit-for-bit (`dot_arrays` and the reference both accumulate
  * sequentially left-to-right).
  */
object AnnProps extends Properties("ann") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private val genCase: Gen[(List[Array[Double]], List[Array[Double]])] = for {
    dim <- Gen.choose(2, 6)
    coord = Gen.choose(-4.0, 4.0).map(v => math.rint(v * 8) / 8) // ties likely
    vec = Gen.listOfN(dim, coord).map(_.toArray)
    nVec <- Gen.choose(1, 12)
    vectors <- Gen.listOfN(nVec, vec)
    nCent <- Gen.choose(2, 5)
    baseCents <- Gen.listOfN(nCent, vec)
    // duplicate a centroid with positive probability: exact distance ties
    // are where the lowest-k rule is the ONLY thing separating engines
    dupe <- Gen.oneOf(true, false)
  } yield (vectors, if (dupe) baseCents.head :: baseCents else baseCents)

  /** The r12 mega-cell guard must be EXACT: against random skewed cell
    * layouts (including one cell holding most rows — the degenerate case it
    * exists for) and random thresholds (1 forces max splitting, MaxValue
    * forces the plain-join degenerate path), the sub-partitioned cell join
    * must emit exactly the plain `centroid_id` equi-join's pair multiset.
    */
  private val genCellCase: Gen[(List[(Long, Int)], Long)] = for {
    nCells <- Gen.choose(1, 4)
    nRows <- Gen.choose(1, 40)
    // zipf-ish: cell 0 attracts most rows with positive probability
    skewed <- Gen.oneOf(true, false)
    cells <- Gen.listOfN(nRows,
      if (skewed) Gen.frequency((6, Gen.const(0)), (1, Gen.choose(0, nCells - 1)))
      else Gen.choose(0, nCells - 1))
    threshold <- Gen.oneOf(1L, 2L, 7L, Long.MaxValue)
  } yield (cells.zipWithIndex.map { case (c, i) => (i.toLong, c) }, threshold)

  property("subPartitionedCellJoin = plain centroid_id equi-join, any threshold") =
    forAll(genCellCase) { case (rows, threshold) =>
      val assigns = rows.toDF("vec_id", "centroid_id")
      val a = rows.map { case (id, c) => (c, id) }.toDF("centroid_id", "ida")
      val b = rows.map { case (id, c) => (c, id) }.toDF("centroid_id", "idb")
      val got = SimilarityOps
        .subPartitionedCellJoin(a, "ida", b, "idb",
          SimilarityOps.cellBlockCounts(assigns, threshold))
        .select("centroid_id", "ida", "idb")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      val want = a.join(b, Seq("centroid_id"))
        .select("centroid_id", "ida", "idb")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      got == want
    }

  property("cells absent from the occupancy frame degrade to nb=1, never vanish (ADVICE r12)") =
    forAll(genCellCase) { case (rows, threshold) =>
      import org.apache.spark.sql.functions.col
      val assigns = rows.toDF("vec_id", "centroid_id")
      val a = rows.map { case (id, c) => (c, id) }.toDF("centroid_id", "ida")
      val b = rows.map { case (id, c) => (c, id) }.toDF("centroid_id", "idb")
      // stale/differently-sourced occupancy: cell 0 (the skew magnet) is
      // missing entirely — its pairs must survive via the default one-block
      // path instead of being dropped by an inner join
      val partialCounts = SimilarityOps.cellBlockCounts(assigns, threshold)
        .filter(col("centroid_id") =!= 0)
      val got = SimilarityOps
        .subPartitionedCellJoin(a, "ida", b, "idb", partialCounts)
        .select("centroid_id", "ida", "idb")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      val want = a.join(b, Seq("centroid_id"))
        .select("centroid_id", "ida", "idb")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      got == want
    }

  property("centroid assignment = naive argmin with lowest-k ties; kept distance = naive min") =
    forAll(genCase) { case (vectors, cents) =>
      val df = vectors.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "v")
      val got = SimilarityOps
        .withCentroidAssignment(df, "v", cents.toIndexedSeq, keepDistance = Some("dmin"))
        .select("vec_id", "centroid_id", "dmin")
        .collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
      vectors.zipWithIndex.forall { case (v, i) =>
        val dists = cents.map(c => dot(c, c) - 2.0 * dot(v, c))
        var best = 0
        var j = 1
        while (j < dists.length) { if (dists(j) < dists(best)) best = j; j += 1 }
        got(i.toLong) == ((best, dists(best)))
      }
    }
}
