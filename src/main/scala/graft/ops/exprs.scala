package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-expression library replacing the reference's driver-side UDFs
  * (reference: src/main/scala/ws/vinta/albedo/closures/UDFs.scala). Pure
  * `Column` expressions stay inside whole-stage codegen — no
  * serialization wall, unlike Scala UDFs.
  */
object exprs {

  /** OR-reduction of LIKE patterns. Ref: the 12 user-bio / 4 repo flags
    * built as `Array[String].map(col.like(_)).reduce(_ or _)`
    * (UserProfileBuilder.scala:128-139, RepoProfileBuilder.scala:88-91). */
  def likeAny(c: Column, patterns: Seq[String]): Column =
    patterns.map(c.like(_)).reduce(_ || _)

  /** 1.0 / 0.0 flag when any substring is contained.
    * Ref: containsAnyOfUDF (closures/UDFs.scala:11-22). */
  def containsAnyFlag(c: Column, subs: Seq[String]): Column =
    when(subs.map(c.contains(_)).reduce(_ || _), 1.0).otherwise(0.0)

  /** NULL-presence flag over several columns then imputation happens via
    * na.fill at call sites. Ref: user_has_null
    * (UserProfileBuilder.scala:60-66). */
  def anyNullFlag(cols: Seq[Column]): Column =
    when(cols.map(_.isNull).reduce(_ || _), true).otherwise(false)

  /** Email → domain. Ref: cleanEmailUDF (closures/UDFs.scala:48-55),
    * re-expressed as a single regexp_extract. */
  def emailDomain(c: Column): Column = {
    val d = regexp_extract(lower(coalesce(c, lit(""))), "@([\\w.\\-]+)", 1)
    when(d === "", "__empty").otherwise(d)
  }

  /** Company-name normalizer. Ref: cleanCompanyUDF
    * (closures/UDFs.scala:32-46): lowercase, strip corp suffixes /
    * "formerly|previously|ex-" prefixes / TLD-ish tails / punctuation,
    * default "__empty". Kept as a regexp_replace chain (codegen'd). */
  def cleanCompany(c: Column): Column = {
    val lowered = lower(coalesce(c, lit("")))
    val noPrefix = regexp_replace(lowered, "^(formerly|previously|ex-)\\s*", "")
    val noSuffix = regexp_replace(noPrefix,
      "(\\.com|\\.net|\\.org|\\.io|,?\\s+(inc|llc|ltd|co|corp|corporation|company)\\.?)\\b", "")
    val cleaned = trim(regexp_replace(noSuffix, "[^\\w\\u4e00-\\u9fff\\s]", " "))
    val squashed = regexp_replace(cleaned, "\\s+", " ")
    when(squashed === "", "__empty").otherwise(squashed)
  }

  /** Location normalizer: take the segment before the first comma, strip
    * punctuation and a trailing "city" token. Ref: cleanLocationUDF
    * (closures/UDFs.scala:57-78). */
  def cleanLocation(c: Column): Column = {
    val first = split(lower(coalesce(c, lit(""))), ",").getItem(0)
    val noPunct = trim(regexp_replace(first, "[^\\w\\u4e00-\\u9fff\\s]", " "))
    val noCity = trim(regexp_replace(noPunct, "\\bcity$", ""))
    val squashed = regexp_replace(noCity, "\\s+", " ")
    when(squashed === "", "__empty").otherwise(squashed)
  }

  /** 0-based index of `item` in `arr`, else size+50 — exact reference
    * semantics. Ref: repoLanguageIndexInUserRecentRepoLanguagesUDF
    * (closures/UDFs.scala:80-83); array_position is 1-based hence -1. */
  def indexInArrayOrPenalty(item: Column, arr: Column): Column =
    when(array_position(arr, item) > 0,
      (array_position(arr, item) - 1).cast("int"))
      .otherwise((size(arr) + 50).cast("int"))

  /** Occurrence count of `item` in `arr` via higher-order filter. Ref:
    * repoLanguageCountInUserRecentRepoLanguagesUDF
    * (closures/UDFs.scala:85-87). */
  def countInArray(item: Column, arr: Column): Column =
    size(filter(arr, x => x === item))

  /** Frequency binning: keep values whose group count exceeds the
    * threshold, else "__other". Usage: join a count table then
    * `binByCount($"cnt", $"col", n)`. Ref binning
    * (UserProfileBuilder.scala:177-195, RepoProfileBuilder.scala:135-143). */
  def binByCount(cnt: Column, value: Column, minCount: Int): Column =
    when(cnt <= minCount, "__other").otherwise(value)

  /** Non-zero count of an ml Vector column — the reference's
    * numNonzerosOfVectorUDF (closures/UDFs.scala:28-30) without the
    * UDF: vector_to_array keeps it a column expression (sparse vectors
    * densify; acceptable — the reference's use is on short assembled
    * feature vectors, not raw CountVectorizer output). */
  def numNonzerosOfVector(vec: Column): Column =
    size(filter(org.apache.spark.ml.functions.vector_to_array(vec),
      x => x =!= 0.0)).cast("int")
}
