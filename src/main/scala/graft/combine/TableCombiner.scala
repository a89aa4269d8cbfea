package graft.combine

import org.apache.spark.sql.DataFrame
import org.slf4j.LoggerFactory

/** Prefix-combine (SURVEY §2.7 U1): union sibling per-file tables into one
  * combined table, positionally, with the first file's schema as authority
  * — the Spark expression of the reference's
  * `CREATE TABLE x (LIKE first INCLUDING ALL); INSERT ... SELECT * ...
  * UNION ALL ...` (main.py:215-248).
  *
  * Semantics preserved:
  *  - positional union (`SELECT *` + LIKE assumes column order, §1.2);
  *  - a sibling whose arity mismatches fails (reference fails at INSERT,
  *    main.py:247 comment) — we fail at plan time, which is strictly
  *    earlier/cheaper;
  *  - name collision between the combined table and a member stem skips
  *    the combine with a warning (main.py:222-226).
  *
  * Catalyst flattens the n-ary union (CombineUnions) so 1000 sibling files
  * become one scan stage, not a 1000-deep binary tree — but still one file
  * scan per member. So `Loader` no longer unions positional siblings that
  * share an encoding and arity: it reads them as one multi-file relation
  * (`CsvTableReader.scan`). The union here serves `combineByName` groups
  * and groups with mixed encodings, and applies the arity and
  * stem-collision rules above to every group the loader does not read in
  * one scan.
  */
object TableCombiner {
  private val log = LoggerFactory.getLogger(getClass)

  /** Positional n-ary union; first member is schema authority.
    *
    * `byName = true` (the `--combine-by-name` opt-in, SURVEY §7.4 risk 4)
    * switches to `unionByName(allowMissingColumns = true)`: ragged sibling
    * schemas — a month's export gained a column, another lost one — align
    * by header name, absent columns padded with NULL. Positional stays the
    * default because it is the reference's contract (LIKE INCLUDING ALL +
    * SELECT *, main.py:229-247). */
  def combine(members: Seq[DataFrame], byName: Boolean = false): DataFrame = {
    require(members.nonEmpty, "no member tables to combine")
    if (byName)
      members.reduce(_.unionByName(_, allowMissingColumns = true))
    else {
      val arity = members.head.columns.length
      members.zipWithIndex.foreach { case (m, i) =>
        require(m.columns.length == arity,
          s"member $i has ${m.columns.length} columns, first member has $arity")
      }
      val names = members.head.columns
      members.map(_.toDF(names.toIndexedSeq: _*)).reduce(_.unionAll(_))
    }
  }

  /** Combine guarded by the reference's stem-collision rule. Returns None
    * (with a warning) when the combined name equals a member stem. */
  def combineGrouped(
      combinedName: String,
      memberStems: Seq[String],
      members: Seq[DataFrame],
      byName: Boolean = false): Option[DataFrame] =
    if (memberStems.contains(combinedName)) {
      log.warn(
        s"Cannot combine tables $memberStems into $combinedName " +
          "because a table with the same name exists")
      None
    } else Some(combine(members, byName))
}
