package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Record-sampling filters.
  *
  * Re-expresses SequenceFileInputFilter's filter classes
  * (hadoop-mapreduce-client-core .../lib/input/SequenceFileInputFilter.java:
  * RegexFilter :111, MD5Filter :203) as pure column predicates —
  * pushdown-friendly, no extra pass. PercentFilter (:154) samples by record
  * order, which Spark has no stable index for; md5Filter is the
  * content-deterministic 1/f sample in its place. InputSampler's split
  * points are Spark's orderBy range partitioning.
  */
object Sampling {

  /** RegexFilter: keep records whose key matches the pattern. */
  def regexFilter(df: DataFrame, keyCol: Column, pattern: String): DataFrame =
    df.filter(regexp_like(keyCol, lit(pattern)))

  /** MD5Filter: keep records where md5(key) mod frequency == 0 — the
    * deterministic, engine-portable 1/f sample (same rows every run and in
    * any engine that computes standard MD5). */
  def md5Filter(df: DataFrame, keyCol: Column, frequency: Int): DataFrame =
    df.filter(md5HashBucket(keyCol, frequency) === 0)

  /** md5(key) reduced mod `frequency` (first 8 hex digits, like the
    * reference's MD5Filter digest-prefix trick). */
  def md5HashBucket(keyCol: Column, frequency: Int): Column =
    pmod(conv(substring(md5(keyCol.cast("binary")), 1, 8), 16, 10).cast("long"),
      lit(frequency.toLong))
}
