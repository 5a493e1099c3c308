package perfbench

import scala.collection.mutable

/** Exact ground truth, computed independently of the engine's verify and
  * components code: set Jaccard by a plain sorted merge, components by a
  * union-find, and pair-counting agreement between two labelings.
  */
object Truth {

  /** Jaccard of two sorted, distinct arrays; two empty sets are identical. */
  def jaccard(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter)
  }

  final class UnionFind(n: Int) {
    private val p = Array.tabulate(n)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (p(x) != x) { p(x) = p(p(x)); x = p(x) }
      x
    }
    def union(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) p(math.max(ra, rb)) = math.min(ra, rb)
    }
  }

  /** Pair-counting agreement of a predicted clustering with the truth:
    * (true positive pairs, predicted pairs, truth pairs). A pair is
    * "predicted" when both items share a predicted label.
    */
  final case class PairCounts(tp: Long, predicted: Long, truth: Long) {
    def +(o: PairCounts): PairCounts = PairCounts(tp + o.tp, predicted + o.predicted, truth + o.truth)
    def recall: Double = if (truth == 0) 1.0 else tp.toDouble / truth
    def precision: Double = if (predicted == 0) 1.0 else tp.toDouble / predicted
  }
  object PairCounts { val Zero: PairCounts = PairCounts(0, 0, 0) }

  private def c2(n: Long): Long = n * (n - 1) / 2

  /** Agreement of two labelings of the same items (same index order). */
  def clusterPairs(predicted: Array[String], truth: Array[Int]): PairCounts = {
    require(predicted.length == truth.length)
    val cells = mutable.HashMap.empty[(String, Int), Long]
    val pred = mutable.HashMap.empty[String, Long]
    val tru = mutable.HashMap.empty[Int, Long]
    var i = 0
    while (i < predicted.length) {
      cells((predicted(i), truth(i))) = cells.getOrElse((predicted(i), truth(i)), 0L) + 1
      pred(predicted(i)) = pred.getOrElse(predicted(i), 0L) + 1
      tru(truth(i)) = tru.getOrElse(truth(i), 0L) + 1
      i += 1
    }
    PairCounts(cells.values.map(c2).sum, pred.values.map(c2).sum, tru.values.map(c2).sum)
  }

  /** Agreement of a predicted pair set with the true pair set. */
  def pairSets[T](predicted: collection.Set[T], truth: collection.Set[T]): PairCounts =
    PairCounts(predicted.count(truth.contains).toLong, predicted.size.toLong, truth.size.toLong)

  /** Truth components over documents with shingle sets `sh`: only pairs
    * inside one `group` (the docs the generator can make similar) are
    * scored; any pair with exact Jaccard ≥ θ joins its two documents.
    * Returns the component label of every document.
    */
  def components(sh: Array[Array[Long]], groups: Iterable[Array[Int]], theta: Double): Array[Int] = {
    val uf = new UnionFind(sh.length)
    groups.foreach { g =>
      var x = 0
      while (x < g.length) {
        var y = x + 1
        while (y < g.length) {
          if (jaccard(sh(g(x)), sh(g(y))) >= theta) uf.union(g(x), g(y))
          y += 1
        }
        x += 1
      }
    }
    Array.tabulate(sh.length)(uf.find)
  }
}
