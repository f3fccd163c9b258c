package graft.store

import org.apache.spark.sql.functions._
import graft.model.TermId

/** Language-preference store view (reference:
  * kasei/kineo `Sources/Kineo/QuadStore/MemoryQuadStore.swift:284-448` —
  * `LanguageMemoryQuadStore` filters language-tagged objects by
  * Accept-Language-style preferences).
  *
  * Spark recast: a one-pass rewrite of the quads frame. Language-tagged
  * literals are exactly the `TAG_LANG` dictionary ids, so only that (small)
  * slice joins the dictionary for its tag; a window over (s, p, g) keeps the
  * best-ranked language per property, quality 0 drops the object entirely.
  * Untagged objects pass through untouched. Statistics are recomputed so the
  * COUNT shortcut stays exact on the filtered view.
  */
object LangPrefStore {

  /** `prefs`: (language-tag, q) pairs, best q wins; a `"*"` entry ranks any
    * otherwise-unlisted language. Tags match case-insensitively on the primary
    * subtag prefix ("en" accepts "en-US"). */
  def apply(store: RdfStore, prefs: Seq[(String, Double)]): RdfStore = {
    val quads = store.quads
    val isLangId = shiftright(col("o"), TermId.PAYLOAD_BITS).bitwiseAND(0xFF) ===
      TermId.TAG_LANG
    val plain = quads.filter(!isLangId)

    val tagged = quads.filter(isLangId)
      .join(store.terms.select(col("id").as("__lid"), lower(col("lang")).as("__lang")),
        col("o") === col("__lid"), "left")
    val star = prefs.collectFirst { case ("*", q) => q }.getOrElse(0.0)
    val rank: org.apache.spark.sql.Column = prefs.filter(_._1 != "*")
      .foldLeft(lit(star)) { case (acc, (tag, q)) =>
        val t = tag.toLowerCase
        when(col("__lang") === t || col("__lang").startsWith(t + "-"), q).otherwise(acc)
      }
    val w = org.apache.spark.sql.expressions.Window.partitionBy("s", "p", "g")
    val kept = tagged.withColumn("__rank", rank)
      .withColumn("__best", max(col("__rank")).over(w))
      .filter(col("__rank") === col("__best") && col("__rank") > 0.0)
      .select(plain.columns.map(col): _*)

    val filtered = plain.unionByName(kept)
    val stats = RdfStore.computeStats(filtered)
    // charSetStats are quad-set-derived: the filtered store must NOT inherit
    // the unfiltered stats (they'd answer star COUNTs over dropped quads)
    store.copy(quads = filtered, predProfiles = stats.profiles,
      spgAllInline = stats.spgAllInline, charSetStats = None,
      knownGraphIds = Some(stats.graphIds))
  }
}
