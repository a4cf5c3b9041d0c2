package graft.operators

/** A driver-side DBSCAN over micro-quantized (id, x, y) points, the
  * reference for `Similarity.dbscanGrid`'s census: the same eps test
  * (squared distance <= eps²) and the same labels (a cluster is labeled
  * by its min core id, a border takes the min label among its core
  * neighbors). Returns (cluster_id, n_points, n_core, n_border) rows plus
  * the (-1, noise, 0, 0) row, ordered by n_points DESC, then cluster_id.
  */
object SequentialDbscan {
  def census(q: Seq[(Long, Long, Long)], eps: Long,
      minPts: Int): Seq[(Long, Long, Long, Long)] = {
    def d2(a: (Long, Long, Long), b: (Long, Long, Long)) =
      (a._2 - b._2) * (a._2 - b._2) + (a._3 - b._3) * (a._3 - b._3)
    val nbrs = q.map(a =>
      a._1 -> q.filter(b => b._1 != a._1 && d2(a, b) <= eps * eps).map(_._1))
      .toMap
    val core = nbrs.collect { case (id, ns) if ns.size + 1 >= minPts => id }
      .toSet
    val label = scala.collection.mutable.Map.empty[Long, Long]
    core.toSeq.sorted.foreach { c =>
      var frontier = if (label.contains(c)) Seq.empty[Long] else Seq(c)
      while (frontier.nonEmpty) {
        frontier.foreach(label(_) = c)
        frontier = frontier.flatMap(nbrs)
          .filter(b => core(b) && !label.contains(b)).distinct
      }
    }
    val border = nbrs.collect {
      case (id, ns) if !core(id) && ns.exists(core) =>
        id -> ns.filter(core).map(label).min
    }
    (core.toSeq.groupBy(label).toSeq.map { case (l, cs) =>
        val nb = border.values.count(_ == l).toLong
        (l, cs.size + nb, cs.size.toLong, nb)
      } :+ ((-1L, (q.size - core.size - border.size).toLong, 0L, 0L)))
      .sortBy(r => (-r._2, r._1))
  }
}
