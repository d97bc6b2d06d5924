package graft.util

/** Union-find over Long vertex ids on a [[LongLongMap]] parent table —
  * the per-task state of the connected-components kernel
  * ([[graft.operators.Pipeline.minLabelComponents]]). Union by minimum
  * id: every root is the smallest id of its set, so after all edges are
  * added `find(v)` is v's min-label over those edges. `find` only
  * path-compresses existing keys (no new key), so streaming
  * [[vertices]] while calling `find` is stable. Single-threaded. */
final class UnionFind {
  private[this] val parent = new LongLongMap(1 << 12)

  def find(x: Long): Long = {
    var r = x
    while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
    var c = x
    while (c != r) { val n = parent.getOrElse(c, c); parent.put(c, r); c = n }
    r
  }

  def union(x: Long, y: Long): Unit = {
    if (!parent.contains(x)) parent.put(x, x)
    if (!parent.contains(y)) parent.put(y, y)
    val rx = find(x); val ry = find(y)
    if (rx < ry) parent.put(ry, rx) else if (ry < rx) parent.put(rx, ry)
  }

  /** Every vertex seen, as stored when called. */
  def vertices: Iterator[Long] = parent.keysSnapshot
}
