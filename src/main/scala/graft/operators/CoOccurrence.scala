package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The lineitem co-occurrence graph behind the cohesion faces — f26
  * (triangles), f28 (communities) and f29 (k-core) — and its two node
  * codecs.
  *
  * Node ids ride as TAGGED LONGS (key·4 + type tag: order 0, part 1,
  * supplier 2) and decode to entity strings (`order-12`, `part-7`,
  * `supplier-3`) only at output: the graph operators are pure joins
  * and aggregates on the ids, and an 8-byte long halves-to-thirds
  * every shuffle row vs "supplier-12345" strings.
  */
object CoOccurrence {

  private def prefixes = lit(Array("order-", "part-", "supplier-", "?"))

  /** Undirected edges (`src`, `dst`) of the order–part–supplier
    * triangles every lineitem row closes, in tagged longs; duplicates
    * are left to the operator that consumes them.
    */
  def edges(lineitem: DataFrame): DataFrame = {
    val li = lineitem.select(
      (col("l_orderkey") * 4).as("o"),
      (col("l_partkey") * 4 + 1).as("p"),
      (col("l_suppkey") * 4 + 2).as("sp"))
    li.select(col("o").as("src"), col("p").as("dst"))
      .unionAll(li.select(col("p").as("src"), col("sp").as("dst")))
      .unionAll(li.select(col("o").as("src"), col("sp").as("dst")))
  }

  /** A tagged long back to its entity string. */
  def decode(node: Column): Column =
    concat(element_at(prefixes, (pmod(node, lit(4)) + 1).cast("int")),
      shiftright(node, 2))

  /** Tagged long → ORDER-ISOMORPHIC surrogate: a long whose order is
    * the decoded strings' lexicographic order ("order-10" < "order-2"
    * < "part-1"), for propagating MIN labels (f28) in 8-byte hash
    * aggregates instead of string sort aggregates.
    *
    *   skey(c) = tag·2^55 + (id·10^(15−len)·16 + len)
    *
    * with tag = c mod 4 (the prefixes "order-" < "part-" <
    * "supplier-" sort exactly like tags 0 < 1 < 2), id = c >> 2, and
    * len = digits(id). The middle term is the classic decimal-lex
    * packing: padding id RIGHT to 15 digits compares like the digit
    * string (first differing digit dominates any tail), and the
    * appended length breaks the pad tie exactly like "1" < "10"
    * (shorter-prefix-first). skey is injective and strictly monotone
    * w.r.t. the decoded-string order. Ids past 15 digits (corpora
    * beyond ~10^15 rows) fail loudly rather than mis-sort.
    */
  def skey(c: Column): Column = {
    val id = shiftright(c, 2)
    val len = length(id.cast("string"))
    val pad = id * pow(lit(10.0), (lit(15) - len).cast("double"))
      .cast("long")
    when(len > 15, raise_error(concat(
        lit("f28 surrogate key: id overflows 15 digits: "),
        id.cast("string"))))
      .otherwise(shiftleft(pmod(c, lit(4)), 55) + pad * 16 + len)
  }

  /** An [[skey]] surrogate back to its entity string. */
  def sdecode(k: Column): Column = {
    val tag = shiftright(k, 55).cast("int")
    val body = k.bitwiseAND(lit((1L << 55) - 1))
    val len = body.bitwiseAND(lit(15L))
    // pad = id·10^(15−len): both < 2^53, quotient an exact integer,
    // so the double division is exact
    val id = floor(shiftright(body, 4) /
      pow(lit(10.0), (lit(15L) - len).cast("double"))).cast("long")
    concat(element_at(prefixes, tag + 1), id.cast("string"))
  }
}
