package graft.sink

/** Deterministic optimistic-commit conflicts for the sink specs: the
  * swap hook runs a rival commit inside the window between an
  * operation's base read and its metadata swap.
  */
object ConflictInjection {

  /** Run `body` with `rival` injected before each of the first
    * `conflicts` swap attempts on `t`, a 1 ms backoff base, and the
    * hook and backoff restored afterwards. The rival's own commit does
    * not re-trigger injection.
    */
  def withInjectedConflicts[A](t: SnapshotTable, conflicts: Int)(rival: => Any)(body: => A): A = {
    val injecting = new java.lang.ThreadLocal[Boolean] {
      override def initialValue(): Boolean = false
    }
    val savedBackoff = SnapshotTable.backoffBaseMs
    SnapshotTable.backoffBaseMs = 1L
    SnapshotTable.beforeSwapHook = (table, attempt) =>
      if ((table eq t) && attempt < conflicts && !injecting.get()) {
        injecting.set(true)
        try rival: Unit
        finally injecting.set(false)
      }
    try body
    finally {
      SnapshotTable.beforeSwapHook = (_, _) => ()
      SnapshotTable.backoffBaseMs = savedBackoff
    }
  }

  /** Names of `snap-*` dirs under `t`'s root that no snapshot references
    * (as a data dir or a delete file) — what a failed commit must not
    * leave behind.
    */
  def unreferencedDirs(t: SnapshotTable): Set[String] = {
    val referenced = t.snapshots
      .flatMap(s => s.dataDirs ++ s.deletes.map(_.dir))
      .map(d => new java.io.File(d).getName).toSet
    Option(new java.io.File(t.root).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("snap-"))
      .map(_.getName).toSet -- referenced
  }
}
