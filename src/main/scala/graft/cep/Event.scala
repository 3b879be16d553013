package graft.cep

/** An event: a type tag plus a flat, *insertion-ordered* map of integer
  * attributes, plus (round 16, beyond-reference) an optional second map
  * of STRING attributes.
  *
  * Mirrors the reference data model (`/root/reference/reflinkcep/event.py:8-22`,
  * `defs.py:1`): the only scalar type there is a 64-bit integer, and
  * attribute order is significant for display (`e(id,name,price)`).
  * String attributes extend that model for real-world event tables
  * (URL hosts, pages, categories): they are visible to DEFINE
  * equality/IN conditions (`host == 'a.com'`, `host in ('a','b')` —
  * [[Expr.StrLit]]/[[Expr.InSet]]) and to FIRST/LAST measures, never to
  * arithmetic or registers (Long-only by design). `strs` defaults
  * empty, so every integer-only path — the reference goldens, the
  * differential corpus, the display format — is unchanged.
  *
  * Conditions read both vectors directly ([[CompiledExpr]]): a bound ref
  * reads its slot, and a generic ref scans for the LAST occurrence of
  * its name. `apply`/`get`/`getStr` return the FIRST occurrence; the
  * Spark operators build events from a schema, so a name never repeats.
  */
final case class Event(tpe: String, attrs: Vector[(String, Long)],
    strs: Vector[(String, String)] = Vector.empty) {

  def apply(key: String): Long =
    attrs.find(_._1 == key) match {
      case Some((_, v)) => v
      case None         => throw new NoSuchElementException(s"event attr $key")
    }

  def get(key: String): Option[Long] = attrs.find(_._1 == key).map(_._2)

  def getStr(key: String): Option[String] =
    strs.find(_._1 == key).map(_._2)

  /** Display format pinned by the reference goldens: `type(v1,v2,...)`.
    * String attributes are NOT displayed — the format belongs to the
    * reference's integer model and the goldens compare it verbatim.
    */
  override def toString: String =
    s"$tpe(${attrs.map(_._2).mkString(",")})"
}

object Event {
  def apply(tpe: String, attrs: (String, Long)*): Event =
    Event(tpe, attrs.toVector)
}
