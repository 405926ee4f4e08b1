package graft.expr

import scala.collection.mutable

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** One q-digest tree node: heap-numbered id (root 1, leaves 2^16+leaf)
  * and its additive count.
  */
final case class QdNode(id: Long, cnt: Long)

/** Per-group q-digest compression as ONE fold (the
  * [[graft.operators.Sketches.qdigestStateBy]] state). The buffer is the
  * group's id → count map, summed map-side, so it never holds more than
  * the 2^17 − 1 nodes of the tree, whatever the input size. `finish`
  * replays the canonical bottom-up rule for levels 16 → 1 with
  * t = max(n div k, 1) over the group's total n: a parent absorbs its
  * children when at least one is present and children-sum + own count
  * < t (long arithmetic). Every decision at one level sees the state the
  * previous level left; decisions within a level touch disjoint
  * (parent, children) triples, so their order does not matter.
  */
class QdigestAggregator(k: Int)
    extends Aggregator[QdNode, mutable.HashMap[Long, Long], Seq[QdNode]] {

  private def add(buf: mutable.HashMap[Long, Long], id: Long, cnt: Long): Unit =
    buf.update(id, buf.getOrElse(id, 0L) + cnt)

  override def zero: mutable.HashMap[Long, Long] = mutable.HashMap.empty

  override def reduce(buf: mutable.HashMap[Long, Long],
                      x: QdNode): mutable.HashMap[Long, Long] = {
    add(buf, x.id, x.cnt); buf
  }

  override def merge(b1: mutable.HashMap[Long, Long],
                     b2: mutable.HashMap[Long, Long]): mutable.HashMap[Long, Long] = {
    b2.foreachEntry(add(b1, _, _)); b1
  }

  override def finish(nodes: mutable.HashMap[Long, Long]): Seq[QdNode] = {
    val t = math.max(nodes.valuesIterator.sum / k, 1L)
    (16 to 1 by -1).foreach { l =>
      val lowId = 1L << l
      val level = nodes.keysIterator.filter(id => id >= lowId && id < 2 * lowId).toArray
      // a sibling already absorbed by its parent is gone from `nodes`;
      // one kept by it recomputes the same decision
      level.foreach { id =>
        if (nodes.contains(id)) {
          val pid = id >> 1
          val kids = nodes.getOrElse(2 * pid, 0L) + nodes.getOrElse(2 * pid + 1, 0L)
          val comb = kids + nodes.getOrElse(pid, 0L)
          if (comb < t) {
            nodes -= 2 * pid
            nodes -= 2 * pid + 1
            nodes(pid) = comb
          }
        }
      }
    }
    nodes.iterator.map { case (id, cnt) => QdNode(id, cnt) }.toSeq
  }

  override def bufferEncoder: Encoder[mutable.HashMap[Long, Long]] =
    ExpressionEncoder[mutable.HashMap[Long, Long]]()

  override def outputEncoder: Encoder[Seq[QdNode]] = ExpressionEncoder[Seq[QdNode]]()
}
