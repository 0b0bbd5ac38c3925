package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Split a staged event frame by its discriminator column (reference
  * op P-4, `src/handler/handler.py:70-72`: groups records by
  * `record["on"]`).
  *
  * The reference crashes on unknown discriminator values; the rebuild
  * counts them as rejects instead (SURVEY.md §3.2 corrected-quirk
  * policy). Each entity frame is a lazy `filter` over the parent, no
  * shuffle; its consumers scan only the columns they read.
  */
object EntitySplit {

  /** One filtered view per known entity value. */
  def apply(df: DataFrame, discriminator: String, entities: Seq[String]): Map[String, DataFrame] =
    entities.map(e => e -> df.filter(col(discriminator) === e)).toMap

  /** Frame of records whose discriminator matches no known entity
    * (null-safe: null discriminators are rejects too). */
  def rejects(df: DataFrame, discriminator: String, entities: Seq[String]): DataFrame =
    df.filter(!col(discriminator).isInCollection(entities) || col(discriminator).isNull)
}
