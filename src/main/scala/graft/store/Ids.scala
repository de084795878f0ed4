package graft.store

import java.security.MessageDigest
import java.text.Normalizer
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** V7/V8 — deterministic chunk IDs + slugify
  * (/root/reference/src/rag_engine/vector_store.py:329-366).
  *
  * Two implementations:
  *  - pure JVM (kernel / tests), including the NFKD normalize step;
  *    NFKD lives only here;
  *  - Column expressions built only from Spark built-ins (codegen'd,
  *    DuckDB-oracle-checkable). The Column variant omits NFKD (no
  *    built-in exists), so it is exact on ASCII names only — the only
  *    names this engine generates (`doc_ids` builds `doc-<id>`).
  */
object Ids {

  // ---- pure JVM (full fidelity incl. NFKD) ----

  def slugify(text: String): String = {
    var t = Normalizer.normalize(text, Normalizer.Form.NFKD)
    t = t.replaceAll("[^\\p{ASCII}]", "")
    t = t.replaceAll("[^\\w\\s-]", "_")
    t = t.replaceAll("[_\\s]+", "_")
    stripChar(t, '_').toLowerCase
  }

  /** sha256(f"{doc}|{idx}|{content[:100]}")[:16] prefixed with
    * slug[:30] (vector_store.py:339-346).
    */
  def chunkKey(documentPath: String, chunkIndex: Int, content: String): String = {
    val head = content.substring(0, math.min(100, content.length))
    val digest = MessageDigest.getInstance("SHA-256")
      .digest(s"$documentPath|$chunkIndex|$head".getBytes("UTF-8"))
    val hex = digest.map("%02x".format(_)).mkString
    s"${slugify(documentPath).take(30)}_${hex.take(16)}"
  }

  private def stripChar(s: String, c: Char): String = {
    var a = 0; var b = s.length
    while (a < b && s.charAt(a) == c) a += 1
    while (b > a && s.charAt(b - 1) == c) b -= 1
    s.substring(a, b)
  }

  // ---- Column expressions (built-ins only, whole-stage codegen) ----

  def slugifyCol(c: Column): Column =
    lower(trim(regexp_replace(regexp_replace(c, "[^\\w\\s-]", "_"),
      "[_\\s]+", "_"), "_"))

  def chunkKeyCol(document: Column, chunkIndex: Column, content: Column): Column =
    concat(
      substring(slugifyCol(document), 1, 30), lit("_"),
      substring(sha2(concat_ws("|", document, chunkIndex,
        substring(content, 1, 100)), 256), 1, 16))
}
