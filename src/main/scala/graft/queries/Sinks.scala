package graft.queries

/** Scratch area for sink round-trip queries: `GRAFT_SCRATCH`, or else `target/scratch`
  * under the working directory (sbt forks `run` and tests in the checkout), so two
  * checkouts never share `_temporary` trees. */
object Sinks {
  /** Set, before any query runs, by a tool whose counts must not depend on the
    * fixtures an earlier run left behind (PlanLint); wins over `GRAFT_SCRATCH`. */
  @volatile private[graft] var freshDir: Option[String] = None

  lazy val scratchDir: String = {
    val d = freshDir.orElse(sys.env.get("GRAFT_SCRATCH")).getOrElse(
      java.nio.file.Paths.get(sys.props("user.dir"), "target", "scratch").toString)
    new java.io.File(d).mkdirs()
    d
  }

  /** Scratch path for a fixture DERIVED FROM `dir`'s tables. The sf-dir hash keys the
    * cache so runs against different scale factors never share a stale fixture (an
    * exists-guard alone would reuse sf0.01-built data in an sf0.001 run). */
  def scoped(dir: String, name: String): String = {
    val suffix = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(dir) & 0x7fffffff)
    s"$scratchDir/${name}_$suffix"
  }
}
