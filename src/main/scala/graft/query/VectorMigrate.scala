package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Vector-index migration — the Spark re-expression of the reference's
  * `migrate_vec` (src/qortex/vec/migrate.py:40-120, tested by
  * tests/test_migrate.py): transfer every vector from one index to
  * another, optionally transforming / re-embedding en route, idempotently
  * (the destination write is an upsert, exactly the property the
  * reference leans on). The reference streams id/embedding batches
  * through `destination.add()` with a progress callback; here the
  * transfer is ONE distributed delta commit — batching disappears because
  * the dataflow IS the batch — and progress becomes Observe events
  * (`vec.migrate.start` / `vec.migrate.complete`, the reference's
  * logger.info event names).
  *
  * Validation (the reference's per-batch shape checks, made global):
  *  - no outgoing embedding is null, and every one shares ONE dimension
  *    (matching `expectDim` when given);
  *  - the transform preserves the id set: no re-keyed or duplicated id,
  *    and no dropped vector (checked in that order);
  *  - post-write, every migrated id resolves in the destination
  *    (left-anti probe — the "vectors_written" accounting is verified,
  *    not assumed).
  */
object VectorMigrate {

  final case class MigrateResult(
      vectorsRead: Long,
      vectorsWritten: Long,
      dimension: Int,
      dryRun: Boolean)

  def migrate(
      source: VectorIndex,
      destination: VectorIndex,
      /** Optional re-embed/transform: (id, embedding) → (id, embedding).
        * Must preserve the id set — checked.
        */
      transform: DataFrame => DataFrame = identity,
      expectDim: Option[Int] = None,
      dryRun: Boolean = false): MigrateResult = {
    graft.observe.Observe.emit("vec.migrate.start",
      "dry_run" -> dryRun, "expect_dim" -> expectDim.getOrElse(-1))
    // resolve the merge-on-read log ONCE; both the count and the write
    // read this materialized frame
    val resolved = source.read().localCheckpoint()
    val vectorsRead = resolved.count()
    val out = transform(resolved).localCheckpoint()

    // ONE aggregation job over the checkpointed frame answers every
    // validation probe: row count, the dimension range (min==max ⇔ one
    // shared dimension), the null-embedding count, the distinct-id count
    // and the re-key count.
    val stats = out
      .join(resolved.select(col("id"), lit(1).as("__src")), Seq("id"), "left")
      .agg(count(lit(1)).as("n"),
        min(size(col("embedding"))).as("dmin"),
        max(size(col("embedding"))).as("dmax"),
        countDistinct("id").as("d"),
        // coalesce: sum over an EMPTY out frame is null, not 0
        coalesce(sum(when(col("__src").isNull, 1L).otherwise(0L)), lit(0L))
          .as("rk"),
        // min/max(size) skip nulls, so a null embedding needs its own count
        coalesce(sum(when(col("embedding").isNull, 1L).otherwise(0L)), lit(0L))
          .as("nulls"))
      .collect().head
    require(stats.getLong(5) == 0L,
      s"vec.migrate: ${stats.getLong(5)} null embedding(s) — every migrated " +
        "vector must carry an embedding")
    val (dmin, dmax) =
      (if (stats.isNullAt(1)) 0 else stats.getInt(1),
        if (stats.isNullAt(2)) 0 else stats.getInt(2))
    require(dmin == dmax,
      s"vec.migrate: mixed embedding dimensions (saw $dmin..$dmax)")
    val dim = dmax
    expectDim.foreach(e => require(stats.getLong(0) == 0L || dim == e,
      s"vec.migrate: embedding dimension $dim != expected $e"))
    val outCount = stats.getLong(0)
    // the documented contract is id-SET preservation, not just count:
    // a transform that collides two ids while keeping the row count
    // would otherwise pass every check (upsert dedups silently) and
    // over-report vectorsWritten. Source ids are unique (read() keeps one
    // row per id), so unique outgoing ids are checked BEFORE the count: a
    // transform that duplicates rows is reported as duplicating ids, not
    // as a count change to "filter before migrating" away.
    val (distinctIds, rekeyed) = (stats.getLong(3), stats.getLong(4))
    require(rekeyed == 0,
      s"vec.migrate: transform re-keyed $rekeyed id(s) not present in " +
        "the source — a migration must preserve the id set")
    require(distinctIds == outCount,
      s"vec.migrate: transform produced duplicate ids " +
        s"($outCount rows, $distinctIds distinct) — the destination " +
        "upsert would silently collapse them")
    require(outCount == vectorsRead,
      s"vec.migrate: transform changed the vector count " +
        s"($vectorsRead read, $outCount after transform) — a migration " +
        "must carry every vector; filter before migrating instead")

    var written = 0L
    if (!dryRun) {
      destination.upsert(out)
      written = outCount
      val missing = out.select(col("id").cast("string").as("id"))
        .join(destination.read().select("id"), Seq("id"), "left_anti").count()
      require(missing == 0,
        s"vec.migrate: $missing migrated id(s) do not resolve in the " +
          "destination after upsert")
    }
    graft.observe.Observe.emit("vec.migrate.complete",
      "vectors_read" -> vectorsRead, "vectors_written" -> written,
      "dimension" -> dim, "dry_run" -> dryRun)
    MigrateResult(vectorsRead, written, dim, dryRun)
  }
}
