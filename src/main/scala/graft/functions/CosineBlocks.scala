package graft.functions

import scala.collection.mutable.ArrayBuffer

/** One row of the block self-join behind `Similarity.exactPairs`: two
  * blocks of vectors, each an id array, a row-length array and the rows
  * flattened into one `ARRAY<DOUBLE>` matrix. A case class so the typed
  * `flatMap` decodes the join row straight into primitive arrays. */
final case class BlockPair(
    bid1: Int, ids1: Array[Long], lens1: Array[Int], mat1: Array[Double],
    bid2: Int, ids2: Array[Long], lens2: Array[Int], mat2: Array[Double])

/** The exact all-pairs cosine kernel over one block pair.
  *
  * Every cosine is bit-identical to [[CosineSimilarity]] (`cosineFast`):
  * the dot runs over the common prefix in index order, each row's Σx² is
  * summed in index order over the full row, and the result is
  * `dot / sqrt(sx·sy)`, 0.0 when either norm is 0. Java never contracts
  * `a*b + c` into a fused multiply-add, and IEEE products commute, so
  * scoring (i, j) or (j, i) gives the same bits.
  *
  * The loop is register-tiled: one row of the first block is dotted
  * against four rows of the second in one pass over their shared prefix,
  * with four independent accumulators, and a ragged row finishes its own
  * tail after the pass. Each accumulator still adds its own products in
  * index order, so tiling changes the speed, not the bits. */
object CosineBlocks {

  /** Emits (id1, id2, cos) with id1 < id2 for every pair of distinct ids
    * whose cosine is NOT below `floor` — NaN included, so the caller's
    * own Spark filter sees a NaN cosine exactly as a row-level join
    * would have shown it. A block paired with itself scores each
    * unordered pair of its rows once. Pairs are produced one row of the
    * first block at a time, so at most one row's pairs are buffered. */
  def score(p: BlockPair, floor: Double): Iterator[(Long, Long, Double)] = {
    val same = p.bid1 == p.bid2
    val (a, b) = (p.mat1, p.mat2)
    val (ids1, ids2) = (p.ids1, p.ids2)
    val (lens1, lens2) = (p.lens1, p.lens2)
    val n2 = ids2.length
    val (off1, off2) = (offsets(lens1), offsets(lens2))
    val (sq1, sq2) = (squaredNorms(lens1, a), squaredNorms(lens2, b))

    // row i · row j, resumed from the running sum s at index `from`
    def dot(s: Double, i: Int, j: Int, from: Int): Double = {
      val n = math.min(lens1(i), lens2(j))
      val oi = off1(i); val oj = off2(j)
      var acc = s; var k = from
      while (k < n) { acc += a(oi + k) * b(oj + k); k += 1 }
      acc
    }

    Iterator.range(0, ids1.length).flatMap { i =>
      val out = ArrayBuffer.empty[(Long, Long, Double)]
      def emit(j: Int, dot: Double): Unit = {
        val sx = sq1(i); val sy = sq2(j)
        val c = if (sx == 0.0 || sy == 0.0) 0.0 else dot / math.sqrt(sx * sy)
        if (!(c < floor)) {
          val x = ids1(i); val y = ids2(j)
          if (x < y) out += ((x, y, c)) else if (y < x) out += ((y, x, c))
        }
      }
      val oi = off1(i)
      var j = if (same) i + 1 else 0
      while (j + 3 < n2) {
        val o0 = off2(j); val o1 = off2(j + 1); val o2 = off2(j + 2); val o3 = off2(j + 3)
        val m = math.min(math.min(lens1(i), lens2(j)),
          math.min(math.min(lens2(j + 1), lens2(j + 2)), lens2(j + 3)))
        var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
        var k = 0
        while (k < m) {
          val x = a(oi + k)
          s0 += x * b(o0 + k); s1 += x * b(o1 + k)
          s2 += x * b(o2 + k); s3 += x * b(o3 + k)
          k += 1
        }
        emit(j, dot(s0, i, j, m)); emit(j + 1, dot(s1, i, j + 1, m))
        emit(j + 2, dot(s2, i, j + 2, m)); emit(j + 3, dot(s3, i, j + 3, m))
        j += 4
      }
      while (j < n2) { emit(j, dot(0.0, i, j, 0)); j += 1 }
      out
    }
  }

  /** Σx² of each row over its full length, in index order. */
  private def squaredNorms(lens: Array[Int], mat: Array[Double]): Array[Double] = {
    val sq = new Array[Double](lens.length)
    var off = 0; var r = 0
    while (r < lens.length) {
      var s = 0.0; var k = 0
      while (k < lens(r)) { val x = mat(off + k); s += x * x; k += 1 }
      sq(r) = s; off += lens(r); r += 1
    }
    sq
  }

  private def offsets(lens: Array[Int]): Array[Int] = lens.scanLeft(0)(_ + _)
}
