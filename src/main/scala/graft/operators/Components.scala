package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Connected components of an undirected pair list: every node that
  * appears in a pair, labelled with the smallest node id of its
  * component (the survivor rule of the MinHash duplicate groups).
  *
  * Two branches, one result (ComponentsSpec checks both against a BFS):
  *  - Up to `Rescore.PairCap` pairs (the 16 B/pair bank budget), the pairs are
  *    collected once, packed, and union-find with path compression runs
  *    on the driver. The labels come back as one declared partition
  *    (QueryScan.onePartition). One job.
  *  - Above it, alternating large-star/small-star rounds (Kiveris et
  *    al., "Connected Components in MapReduce and Beyond", SoCC 2014)
  *    over the edge frame, each round local-checkpointed (lesson 6),
  *    until a round changes no edge. Rounds grow with the log of the
  *    component diameter (a 1,000-long chain converges in 9–11), so
  *    there is no round cap.
  */
object Components {

  /** (node, label) over `pairs` = (a, b) of non-null longs; both columns
    * are nullable when `a` or `b` is, as a union of the two would be.
    * The branch decision is the guarded collect itself. */
  def minLabels(pairs: DataFrame): DataFrame =
    Rescore.collectPairs(pairs, "a", "b", Rescore.PairCap) match {
      case Some(p) => onDriver(pairs, p)
      case None => rounds(pairs)._1
    }

  private def onDriver(pairs: DataFrame, p: Rescore.Pairs): DataFrame = {
    val n = p.length
    // node ids, sorted and unique; a set's root is its smallest index
    val ends = p.xs.clone()
    java.util.Arrays.sort(ends)
    var k = 0
    var i = 0
    while (i < ends.length) {
      if (k == 0 || ends(k - 1) != ends(i)) { ends(k) = ends(i); k += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(ends, k)
    val parent = Array.tabulate(k)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val up = parent(y); parent(y) = r; y = up }
      r
    }
    i = 0
    while (i < n) {
      val ra = find(java.util.Arrays.binarySearch(ids, p.a(i)))
      val rb = find(java.util.Arrays.binarySearch(ids, p.b(i)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      i += 1
    }
    val labels = Array.tabulate(k)(j => ids(find(j)))
    val nullable = pairs.schema("a").nullable || pairs.schema("b").nullable
    val out = Seq("node", "label").map(AttributeReference(_, LongType, nullable)())
    val s = pairs.sparkSession
    // broadcast, not a parallelized element: up to 2 × PairCap labels
    // would make one task too large to ship in a message
    val lab = s.sparkContext.broadcast((ids, labels))
    val rows = s.sparkContext.parallelize(Seq(0), 1).flatMap { _ =>
      val (ns, ls) = lab.value
      Iterator.tabulate(ns.length)(j => InternalRow(ns(j), ls(j)))
    }
    QueryScan.onePartition(s, out, rows, k)
  }

  /** The DataFrame branch: (node, label) and the rounds it ran, the
    * last of which changed no edge. Edges are kept as (u, v) with
    * u > v, self-pairs dropped (their node still gets its own label). */
  private[graft] def rounds(pairs: DataFrame): (DataFrame, Int) = {
    val (u, v) = (col("u"), col("v"))
    val nodes = pairs.select(col("a").as("node"))
      .union(pairs.select(col("b").as("node"))).distinct()
    var cur = pairs.select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .filter(u =!= v).distinct().localCheckpoint()
    var n = 0
    var changed = true
    while (changed) {
      n += 1
      val next = smallStar(largeStar(cur)).localCheckpoint()
      changed = !next.except(cur).union(cur.except(next)).isEmpty
      cur = next
    }
    // converged edges are stars: each non-root node has one edge, to its root
    (nodes.join(cur, col("node") === u, "left")
      .select(col("node"), coalesce(v, col("node")).as("label")), n)
  }

  /** Each node u links every larger neighbour to the smallest of u and
    * its neighbours. */
  private def largeStar(e: DataFrame): DataFrame = {
    val both = e.select(col("u"), col("v")).union(e.select(col("v").as("u"), col("u").as("v")))
    both.withColumn("m", least(col("u"), min(col("v")).over(Window.partitionBy(col("u")))))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
  }

  /** Each node u (every edge has u > v) links itself and its smaller
    * neighbours to the smallest of them. */
  private def smallStar(e: DataFrame): DataFrame = {
    val m = e.withColumn("m", min(col("v")).over(Window.partitionBy(col("u"))))
    m.select(col("v").as("u"), col("m").as("v"))
      .union(m.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }
}
