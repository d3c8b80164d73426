package perfbench

import scala.collection.mutable

/** Reference answers for the generated workloads, computed in the JVM
  * without Spark so a wrong operator cannot also be its own oracle. */
object Reference {

  /** Connected components of the undirected edge list: vertex → min vertex
    * id of its component (union-find with path halving). */
  def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var v = x
      while (parent(v) != v) {
        parent(v) = parent(parent(v))
        v = parent(v)
      }
      v
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  /** Brute-force near-dup keepers: ids that survive when every cluster of
    * same-lang docs linked by token-set Jaccard ≥ tau keeps only its min
    * id. Also returns the number of linked pairs. */
  def nearDupSurvivors(docs: Seq[(Long, String, String)], tau: Double): (Set[Long], Int) = {
    val toks = docs.map { case (id, lang, text) => (id, lang, text.split(" ").toSet) }
    val pairs = for {
      (group) <- toks.groupBy(_._2).values.toSeq
      i <- group.indices
      j <- (i + 1) until group.size
      (a, b) = (group(i), group(j))
      inter = a._3.count(b._3)
      if inter.toDouble / (a._3.size + b._3.size - inter) >= tau
    } yield (a._1, b._1)
    val comp = components(pairs)
    (docs.map(_._1).filter(id => comp.get(id).forall(_ == id)).toSet, pairs.size)
  }
}
