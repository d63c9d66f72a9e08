package pipebench

import java.security.MessageDigest

/** Prints, for one seed and size, a digest of every generated document and
  * the expected-output fingerprints, one line per workload shape. Two
  * processes given the same arguments must print the same lines.
  *
  *   GenCheck <seed> <features>
  */
object GenCheck {
  def main(args: Array[String]): Unit = {
    val (seed, n) = (args(0).toLong, args(1).toInt)
    for ((name, b) <- Seq("single" -> Gen.singleDoc(seed, n), "sharded" -> Gen.sharded(seed, n, docs = 12))) {
      val md = MessageDigest.getInstance("SHA-256")
      b.docs.foreach(d => md.update(d.getBytes("UTF-8")))
      val e = Expect.outputs(b.recs)
      println(s"$name docs=${b.docs.size} features=${b.features} bytes=${b.bytes} " +
        s"sha256=${md.digest().map("%02x".format(_)).mkString} silver=${e.silver.size} " +
        s"silver_print=${e.silverPrint} fact=${e.factRows} fact_print=${e.factPrint} " +
        s"predictions=${e.predictionRows}")
    }
  }
}
