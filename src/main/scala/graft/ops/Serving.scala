package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Interactive/serving query shapes (SURVEY §2.12 — the reference's REST
  * layer semantics re-expressed as DataFrame queries).
  *
  * Scale note: `orderBy.offset.limit` pagination is a global sort; Spark
  * plans it as TakeOrderedAndProject when limit+offset is small — no full
  * sort materialization. A page costs O(offset+page): the reference API
  * paginates by offset/limit, so there is no keyset form.
  */
object Serving {

  /** O3: ordered offset/limit pagination (api/app/database.py:100-104).
    * `sortKeys` must be a total order (include a unique key).
    */
  def paginate(df: DataFrame, sortKeys: Seq[Column], offset: Int, limit: Int): DataFrame =
    df.orderBy(sortKeys: _*).offset(offset).limit(limit)

  /** Point lookup by key (api/app/database.py:109-132). */
  def pointLookup(df: DataFrame, key: String, value: Any): DataFrame =
    df.filter(col(key) === lit(value))

  /** Null-tolerant conjunctive range filter: for each (column, lo, hi),
    * keep rows where the column is null OR within bounds
    * (api/app/database.py:38-68 — `(income IS NULL OR income >= %s)`).
    */
  def rangeFilterNullTolerant(df: DataFrame, bounds: Seq[(String, Option[Double], Option[Double])]): DataFrame =
    bounds.foldLeft(df) { case (acc, (c, lo, hi)) =>
      val loOk = lo.map(v => col(c).isNull || col(c) >= v).getOrElse(lit(true))
      val hiOk = hi.map(v => col(c).isNull || col(c) <= v).getOrElse(lit(true))
      acc.filter(loOk && hiOk)
    }
}
