package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference near-dup verify [[DedupOps.jaccardForPairs]] and
  * [[DedupOps.containmentForPairs]] are property-tested against: each
  * pair member's words exploded to one (id, token) row per occurrence,
  * the pairs broadcast to their members' token rows, per-(pair, token)
  * presence marked with `max` of a side flag, and the per-pair rollup
  * counting sz_a / sz_b / n_inter. One row per (pair, token) crosses a
  * shuffle, which is why production does not run it. Also the window
  * encoding of shingles the native [[graft.expressions.Shingles]] path
  * is checked against. */
object NearDupReference {

  /** One (id, __pos, __w) row per word occurrence. */
  def explodedWords(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      posexplode(split(col(textCol), " ")).as(Seq("__pos", "__w")))

  /** Shingles from a pre-exploded word frame: a lead window per word. */
  def shinglesFromWords(words: DataFrame, idCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val leads = (0 until n).map(j =>
      (if (j == 0) col("__w") else lead(col("__w"), j).over(w)).as(s"__w$j"))
    words.select((col(idCol) +: leads): _*)
      .filter(col(s"__w${n - 1}").isNotNull) // tail positions have no full shingle
      .select(col(idCol),
        concat_ws(" ", (0 until n).map(j => col(s"__w$j")): _*).as("shingle"))
  }

  /** (id, token) rows of the docs that appear in a pair, duplicate
    * occurrences included (presence marking collapses them). */
  private def pairTokens(docs: DataFrame, idCol: String, textCol: String,
                         pairs: DataFrame): DataFrame = {
    val ids = pairs.select(col("id_a").as(idCol))
      .unionByName(pairs.select(col("id_b").as(idCol))).distinct()
    explodedWords(docs.join(broadcast(ids), Seq(idCol), "left_semi"),
        idCol, textCol)
      .select(col(idCol), col("__w").as("token"))
  }

  /** (id_a, id_b, n_inter, sz_a, sz_b) over distinct tokens; pairs where
    * either member has no token row are dropped. */
  private def pairOverlaps(docs: DataFrame, idCol: String, textCol: String,
                           pairs: DataFrame): DataFrame = {
    val pk = struct(col("id_a"), col("id_b")).as("pk")
    val membership = pairs
      .select(pk, col("id_a").as(idCol), lit(1).as("in_a"), lit(0).as("in_b"))
      .unionByName(pairs
        .select(pk, col("id_b").as(idCol), lit(0).as("in_a"), lit(1).as("in_b")))
    pairTokens(docs, idCol, textCol, pairs).join(broadcast(membership), idCol)
      .groupBy(col("pk"), col("token"))
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
      .groupBy(col("pk"))
      .agg(sum(col("in_a")).as("sz_a"), sum(col("in_b")).as("sz_b"),
        sum(col("in_a") * col("in_b")).as("n_inter"))
      .filter(col("sz_a") > 0 && col("sz_b") > 0)
      .select(col("pk.id_a").as("id_a"), col("pk.id_b").as("id_b"),
        col("n_inter"), col("sz_a"), col("sz_b"))
  }

  def jaccardForPairs(docs: DataFrame, idCol: String, textCol: String,
                      pairs: DataFrame): DataFrame =
    pairOverlaps(docs, idCol, textCol, pairs)
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_inter"))).as("jaccard"))

  def containmentForPairs(docs: DataFrame, idCol: String, textCol: String,
                          pairs: DataFrame): DataFrame =
    pairOverlaps(docs, idCol, textCol, pairs)
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") /
          least(col("sz_a"), col("sz_b"))).as("containment"))
}
