package graft.queries

/** Values the registry's queries build once and then reuse: trained
  * quantizers, vocabularies and merge tables, and the on-disk indexes and
  * exports that the serving queries read. A value is built once per
  * (kind, key) for the life of the JVM, so queries that share a build, and
  * Bench's repeat iterations, time only their own work. A key is the sf
  * dir, plus every build parameter that changes the value.
  */
private[queries] object RegistryMemo {
  private var built = Map.empty[(String, Any), Any] // guarded by this
  private var last = Map.empty[String, Any] // kind -> last requested key

  /** The value for (`kind`, `key`), made by `build` on the first request.
    * A build may request another kind (the lock is reentrant). */
  def memo[V](kind: String, key: Any)(build: => V): V = synchronized {
    last += kind -> key
    built.getOrElse((kind, key), {
      val v = build
      built += (kind, key) -> v
      v
    }).asInstanceOf[V]
  }

  /** [[memo]] for a build that writes into a new temp directory named
    * `graft-<kind>…`; the value is that directory's path. */
  def memoDir(kind: String, key: Any)(write: String => Unit): String =
    memo(kind, key) {
      val dir = graft.io.TempDirs.create(s"graft-$kind").toString
      write(dir)
      dir
    }

  /** The value for the key `kind` was last requested with, once built.
    * Late-bound oracles read it: Verify writes the oracles after one
    * dir's queries ran, so the last request is for that dir. */
  def current[V](kind: String): Option[V] = synchronized {
    last.get(kind).flatMap(k => built.get((kind, k))).map(_.asInstanceOf[V])
  }
}
