package graft.ext

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Greedy sequence packing (EXT) — concatenating short documents into
  * fixed-capacity training sequences is the standard way to avoid padding
  * waste in LLM pre-training batches; the deterministic version packs in a
  * canonical order so every engine/run produces the same bins.
  *
  * Semantics: within each `groupCol` stream, documents in ascending `idCol`
  * order fill a bin until the next document would overflow `capacity`; then
  * a new bin starts (an oversized document gets its own bin). Packing is
  * inherently SEQUENTIAL per stream — the parallelism unit is the group, so
  * at 100 TB the group key must be granular enough (source × date × shard)
  * to spread streams across executors.
  *
  * Shape: ONE hash shuffle on the group key, a partition-local sort, and a
  * streaming scan over each sorted partition (group boundaries detected by
  * key change — no per-group materialization, no join-back). Both the group
  * and id columns keep their ORIGINAL types in the output; only `bin` is
  * synthesized. Group keys must be scalar (equality-comparable) values.
  */
object Packing {

  /** (group, doc_id, bin) assignment with the input's own column types.
    * `sizeCol` must be a non-negative integral column (e.g. `n_chars` or a
    * token count).
    */
  /** [[packGreedy]] CARRYING the full row — the terminal-materialization
    * form ([[ShardWriter.assign]]): the greedy state machine is
    * identical (same per-group reset, same overflow rule, same
    * ascending-id order, so bins are value-identical to the projection
    * form), but the input rows ride the ONE group-key exchange and come
    * out with `bin` appended — clustered by group and sorted by
    * (group, id), which is (group, bin, id) order since bins are
    * non-decreasing per group. A downstream partitioned write can then
    * land the rows WITHOUT a second exchange. The projection form +
    * join-back it replaces moved the fat rows TWICE at scale (the
    * assignment join's key exchange — AQE only sometimes broadcast the
    * assignment side, and a corpus-sized assignment can never broadcast
    * — and the placement repartition; caught by the SCALE_MEDIA runtime
    * bytes audit). `sizeCol` must already be an integral column.
    *
    * `duplicateIdError`, when set, refuses two rows with the same
    * (group, id): equal ids sort adjacent, and ids compare by value
    * (binary ids by content). The check runs AS THE ROWS ARE PACKED, so
    * it covers exactly the rows a consumer reads: a full write or count
    * sees every row, while a limited consumer (`limit`, `take`) can stop
    * before a duplicate and pass. Callers that rely on the refusal must
    * consume the whole result ([[ShardWriter.assign]]'s terminal write
    * does). */
  def packGreedyCarry(df: DataFrame, groupCol: String, idCol: String,
      sizeCol: String, capacity: Long,
      duplicateIdError: Option[String] = None): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    // the encoder schema must describe the frame AFTER the long cast:
    // deriving it from df.schema would declare the size column's
    // ORIGINAL type (e.g. int) while the rows carry java.lang.Long —
    // a runtime "not a valid external type" failure for any caller
    // whose size column is not already long
    val casted = df.withColumn(sizeCol, col(sizeCol).cast("long"))
    val gIdx = casted.schema.fieldIndex(groupCol)
    val iIdx = casted.schema.fieldIndex(idCol)
    val sIdx = casted.schema.fieldIndex(sizeCol)
    val outSchema =
      casted.schema.add(StructField("bin", LongType, nullable = false))
    casted
      .repartition(col(groupCol))
      .sortWithinPartitions(col(groupCol), col(idCol))
      .mapPartitions { rows =>
        var cur: Any = null
        var curId: Any = null
        var started = false
        var bin = 0L
        var fill = 0L
        rows.map { r =>
          val g = r.get(gIdx)
          val n = r.getLong(sIdx)
          // duplicate-id detection rides the pack's own (group, id) sort
          // for free — equal ids land adjacent in the same group — so a
          // caller whose id is row identity ([[ShardWriter.assign]]) no
          // longer pays a separate keys-only aggregation job per write
          duplicateIdError.foreach { msg =>
            val i = r.get(iIdx)
            if (started && g == cur && sameId(i, curId))
              throw new IllegalArgumentException(msg)
            curId = i
          }
          if (!started || g != cur) { cur = g; started = true; bin = 0L; fill = n }
          else if (fill + n > capacity) { bin += 1; fill = n }
          else fill += n
          Row.fromSeq(r.toSeq :+ bin)
        }
      }(Encoders.row(outSchema))
  }

  /** Id equality by value: `==` on an `Array[Byte]` (a binary id) is
    * reference equality, which two rows never share. */
  private def sameId(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case _ => a == b
  }

  def packGreedy(df: DataFrame, groupCol: String, idCol: String,
      sizeCol: String, capacity: Long): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val proj = df.select(col(groupCol), col(idCol),
      col(sizeCol).cast("long").as("__gsz"))
    val outSchema = StructType(Seq(
      proj.schema(0), proj.schema(1),
      StructField("bin", LongType, nullable = false)))
    proj.repartition(col(groupCol))
      .sortWithinPartitions(col(groupCol), col(idCol))
      .mapPartitions { rows =>
        // groups are contiguous after the partition-local sort; a key change
        // resets the greedy state, so one pass packs every group in the
        // partition without materializing any of them
        var cur: Any = null
        var started = false
        var bin = 0L
        var fill = 0L
        rows.map { r =>
          val g = r.get(0)
          val n = r.getLong(2)
          if (!started || g != cur) { cur = g; started = true; bin = 0L; fill = n }
          else if (fill + n > capacity) { bin += 1; fill = n }
          else fill += n
          Row(g, r.get(1), bin)
        }
      }(Encoders.row(outSchema))
  }
}
