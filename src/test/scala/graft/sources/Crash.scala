package graft.sources

/** Stops a copy-on-write write at one instant of the [[AtomicStore]]
  * protocol and leaves its files as a crash there would: 0 = staged,
  * not committed; 1 = committed, nothing applied; 1 + n = after n apply
  * steps (a target delete, a leaf rename, a drop, the stage delete).
  */
object Crash {

  final class Crashed(at: Int) extends RuntimeException(s"crash at protocol instant $at")

  /** Run `body`, crashing the first time a write reaches instant `k`. */
  def at(k: Int)(body: => Unit): Unit = {
    var armed = true
    val crashed =
      try {
        AtomicStore.instant.withValue { i =>
          if (armed && i == k) { armed = false; throw new Crashed(k) }
        }(body)
        false
      } catch { case _: Crashed => true }
    require(crashed, s"no write in the body reached protocol instant $k")
  }

  /** The last instant a clean run of `body` reaches. */
  def lastInstant(body: => Unit): Int = {
    var last = -1
    AtomicStore.instant.withValue(i => last = math.max(last, i))(body)
    last
  }
}
