package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's read-path operators (O9-O11 in SURVEY.md §2). */
object Relational {

  /** Deterministic LIMIT/OFFSET pagination (`internal/db/db.go:111-137`).
    *
    * The reference pages with no ORDER BY, so page contents are
    * unspecified; this port requires explicit sort keys (SURVEY.md §7.4).
    * Spark plans orderBy+limit as TakeOrderedAndProject: each partition
    * keeps only its top `offset+limit` rows, so the exchange after `df`
    * carries O(pages), not O(table). That bounds the page step only:
    * whatever `df` itself shuffles is paid in full on every request. Over
    * `Upsert.lastWins(log)` each 10-row page still shuffles the whole log
    * for its last-wins merge (traced: 68.6k input rows and 3.4 MB
    * shuffled per page, 6,858 rows examined per row delivered).
    */
  def page(df: DataFrame, sortKeys: Seq[Column], limit: Int, offset: Int): DataFrame =
    df.orderBy(sortKeys: _*).offset(offset).limit(limit)

  /** JSON page encoding (O10; `internal/db/db.go:113-118`):
    * `COALESCE(json_agg(rows), '[]')` becomes
    * `coalesce(to_json(sort_array(collect_list(struct(...)))), '[]')`.
    * sort_array (by the first struct field) replaces relying on collected
    * order, which Spark does not guarantee after a shuffle.
    */
  def jsonPage(df: DataFrame, cols: Seq[Column]): DataFrame =
    df.agg(
      coalesce(to_json(sort_array(collect_list(struct(cols: _*)))), lit("[]"))
        .as("page_json"))
}
