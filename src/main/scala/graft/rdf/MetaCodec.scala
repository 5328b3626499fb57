package graft.rdf

/** The base64 armor of persisted definitions (`meta.tsv`) and the view
  * catalog: every field survives tabs, newlines and quotes, and terms
  * carry their kind (`V:` variable, `C:` string constant). */
private[rdf] object MetaCodec {

  def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")

  def termEnc(t: Term): String = t match {
    case V(n) => "V:" + b64(n)
    case C(v: String) => "C:" + b64(v)
    case C(other) => throw new IllegalArgumentException(
      s"persisted view definitions are STRING patterns, got constant $other")
  }

  def termDec(s: String): Term = s.splitAt(2) match {
    case ("V:", b) => V(unb64(b))
    case ("C:", b) => C(unb64(b))
    case _ => throw new IllegalArgumentException(s"bad term encoding: $s")
  }
}
