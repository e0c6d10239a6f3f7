package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The incremental-ETL core: the reference's daily run deduplicates fetched
  * ids (list(set(...)), /root/reference/fetch_youtube_data.py:103) and keeps
  * only ids absent from the sink via a hand-rolled hash-set probe (:152-160)
  * — i.e. a broadcast hash LEFT ANTI join (SURVEY.md O4/O8/O9).
  *
  * Here both steps are relational and distributed: dedup is a hash
  * aggregate; the anti-join is planned by Catalyst as BroadcastHashJoin
  * (LeftAnti) when the sink keyset is small, SortMergeJoin when it isn't —
  * spillable either way, which is the 100 TB posture the reference's
  * in-driver set() lacks.
  */
object Incremental {

  /** O4: global dedup on a key (order-insensitive, like the reference's
    * set() — but deterministic downstream because consumers sort). */
  def dedup(df: DataFrame, keys: String*): DataFrame =
    df.dropDuplicates(keys)

  /** O8: rows of `fetched` whose key is NOT present in `sink`.
    * Idempotence invariant (SURVEY.md §5.2): newKeys(newKeys(f, s), s) ==
    * newKeys(f, s); and newKeys(f, s) ∩ s = ∅. */
  def newKeys(fetched: DataFrame, sink: DataFrame, key: String): DataFrame =
    absentKeys(dedup(fetched, key), sink, key)

  /** Rows of `fetched` whose key is NOT present in `sink`, repeats kept:
    * for a consumer that only tests keys for membership (a semi-join's
    * build side), where a dedup would be a shuffle that changes nothing.
    * The sink side needs no `distinct()` either: a left anti join only
    * asks whether a key matches. */
  def absentKeys(fetched: DataFrame, sink: DataFrame, key: String): DataFrame =
    fetched.join(sink.select(key), Seq(key), "left_anti")

  /** O9: cheap emptiness probe (limit-1, not a full count). */
  def isEmpty(df: DataFrame): Boolean = df.isEmpty

  /** The reference's full incremental contract: dedup → anti-join → empty
    * short-circuit; returns None when there is nothing new (:164-165). */
  def incrementalBatch(fetched: DataFrame, sink: DataFrame, key: String)
      : Option[DataFrame] = {
    val fresh = newKeys(fetched, sink, key)
    if (isEmpty(fresh)) None else Some(fresh)
  }
}
