package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}

/** Order-insensitive result digest, computed by the timed action itself.
  *
  * The action runs the frame's own executed plan (`queryExecution.toRdd`)
  * and hashes every cell of every output row, so nothing can be pruned:
  * unlike `count()`, which lets the optimizer drop unused columns,
  * aggregates feeding only them, and the final sort, this evaluates the
  * whole plan a user's write or collect would. Rows are hashed in their
  * canonical UnsafeRow encoding with two independent 64-bit seeds and
  * the hashes summed, so the digest is a multiset fingerprint: row order
  * and partitioning do not change it, and any changed cell does. */
final case class Digest(rows: Long, h1: Long, h2: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, h1 + o.h1, h2 + o.h2)
  def hex: String = f"$rows%d:$h1%016x$h2%016x"
}

object Digest {
  val empty: Digest = Digest(0L, 0L, 0L)

  def of(df: DataFrame): Digest = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L; var a = 0L; var b = 0L
      it.foreach { r =>
        val u = proj(r)
        a += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 0x5bd1e995L)
        b += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 0x27d4eb2fL)
        n += 1
      }
      Iterator.single(Digest(n, a, b))
    }.fold(empty)(_ + _)
  }
}
