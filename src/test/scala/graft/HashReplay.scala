package graft

/** Driver-side replay of the engine's one hash family. Callers apply
  * the same `% m` (buckets, arms, coordinates) or `>> 8` (52-bit
  * uniform draws) as the query they check.
  */
object HashReplay {

  /** TextAnalysis.md5Long: the lower 60 bits of md5(s), i.e. hex digits
    * 18..32 of the digest, as a non-negative long.
    */
  def md5Long(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(17, 32), 16)
  }
}
