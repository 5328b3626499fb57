package graft.rdf

/** The base64 armor of persisted definitions (`meta.tsv`) and the view
  * catalog: every field survives tabs, newlines and quotes. */
private[rdf] object MetaCodec {

  def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")
}
