package graftbench

import java.nio.file.Path

/** Spatial reads and table churn in one process: each round runs the
  * [[GeoRead]] queries on their read-only point table, then the
  * [[GeoChurn]] commits on their keyed table. The two halves share the
  * session, so set-up pays one cold start for both. */
final class Geo extends Workload {
  private val reads = new GeoRead
  private val churn = new GeoChurn
  val readKinds = Set("range", "join", "read")
  val writeKinds = Set("commit")

  def prepare(ctx: Ctx, dir: Path): Unit = { reads.prepare(ctx, dir); churn.prepare(ctx, dir) }
  def warmup(ctx: Ctx): Unit = { reads.warmup(ctx); churn.warmup(ctx) }
  def round(ctx: Ctx, n: Int): Unit = { reads.round(ctx, n); churn.round(ctx, n) }
  /** The table figures (live files, bytes) describe the churned table. */
  def finish(ctx: Ctx): Unit = { reads.finish(ctx); churn.finish(ctx) }
}
