package graft.operators

import scala.collection.mutable

/** Plain-Scala reference models of the graph operators in [[Components]],
  * over collected (src, dst) edges: what each DataFrame loop must agree
  * with. Self-loops carry no edge in any model.
  */
object GraphModels {

  /** Union-find components over `edges`, labelled by the minimum member
    * id; self-loops add no edge, so a node seen only in one is absent.
    */
  def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val es = edges.filter { case (a, b) => a != b }
    val parent = mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    // the smaller root wins every union, so each root is its set's min id
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    es.flatMap(e => Seq(e._1, e._2)).distinct.map(id => id -> find(id)).toMap
  }

  /** The k-core of a symmetric edge list by repeated peeling, recounting
    * every survivor's degree among the survivors each round: node →
    * degree within the core.
    */
  def kCorePeel(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    val e = edges.filter(p => p._1 != p._2).distinct
    val adj = e.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    var nodes = adj.keySet ++ e.map(_._2).toSet
    var changed = true
    while (changed && nodes.nonEmpty) {
      val keep = nodes.filter(n =>
        (adj.getOrElse(n, Set.empty) & nodes).size >= k)
      changed = keep != nodes
      nodes = keep
    }
    nodes.map(n => n -> (adj.getOrElse(n, Set.empty) & nodes).size.toLong)
      .toMap
  }

  /** Tarjan's strongly connected components (iterative), each node
    * labelled by its component's minimum node id.
    */
  def tarjan(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val es = edges.filter(e => e._1 != e._2).distinct
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    val adj = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val index = mutable.Map[Long, Int]()
    val low = mutable.Map[Long, Int]()
    val onStk = mutable.Set[Long]()
    val stk = mutable.Stack[Long]()
    val out = mutable.Map[Long, Long]()
    var counter = 0
    def strongconnect(v0: Long): Unit = {
      // explicit work stack (deep chains would blow the JVM stack)
      case class Frame(v: Long, var i: Int)
      val work = mutable.Stack(Frame(v0, 0))
      index(v0) = counter; low(v0) = counter; counter += 1
      stk.push(v0); onStk += v0
      while (work.nonEmpty) {
        val fr = work.top
        val succ = adj.getOrElse(fr.v, Seq.empty)
        if (fr.i < succ.length) {
          val w = succ(fr.i); fr.i += 1
          if (!index.contains(w)) {
            index(w) = counter; low(w) = counter; counter += 1
            stk.push(w); onStk += w
            work.push(Frame(w, 0))
          } else if (onStk(w)) low(fr.v) = math.min(low(fr.v), index(w))
        } else {
          work.pop()
          if (work.nonEmpty)
            low(work.top.v) = math.min(low(work.top.v), low(fr.v))
          if (low(fr.v) == index(fr.v)) {
            var comp = List.empty[Long]
            var w = 0L
            do { w = stk.pop(); onStk -= w; comp ::= w } while (w != fr.v)
            val m = comp.min
            comp.foreach(n => out(n) = m)
          }
        }
      }
    }
    nodes.foreach(v => if (!index.contains(v)) strongconnect(v))
    out.toMap
  }

  /** Hop distance from the nearest of `seeds` along src → dst edges, for
    * every reached node; seeds are at 0 whether or not they have edges.
    */
  def bfs(edges: Seq[(Long, Long)], seeds: Set[Long]): Map[Long, Long] = {
    val adj = edges.filter(e => e._1 != e._2)
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var dist = seeds.map(_ -> 0L).toMap
    var frontier = seeds
    var hop = 0L
    while (frontier.nonEmpty) {
      hop += 1
      val next = frontier.flatMap(n => adj.getOrElse(n, Seq.empty))
        .filterNot(dist.contains)
      next.foreach(n => dist += n -> hop)
      frontier = next
    }
    dist
  }
}
