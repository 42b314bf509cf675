package kbench

import java.net.{HttpURLConnection, URL}
import java.security.MessageDigest

/** Minimal HTTP GET client: times a request from send to the last body
  * byte and keeps only the body's SHA-256 and length, so responses of any
  * size are checked against the model after the run without being held. */
object Http {

  /** `error` keeps the start of the body of a response with status >= 400. */
  final case class Reply(status: Int, digest: String, bytes: Long,
                         sendNs: Long, lastByteNs: Long, error: String = "") {
    def ms: Double = (lastByteNs - sendNs) / 1e6
  }

  def sha256(s: String): String = hex(MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")))
  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  def get(port: Int, path: String): Reply = {
    val buf = new Array[Byte](64 * 1024)
    val md = MessageDigest.getInstance("SHA-256")
    val t0 = System.nanoTime()
    val c = new URL(s"http://127.0.0.1:$port$path").openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(30000)
    c.setReadTimeout(120000)
    val status = c.getResponseCode
    val in = if (status >= 400) c.getErrorStream else c.getInputStream
    var n = 0L
    val head = new java.io.ByteArrayOutputStream()
    if (in != null) {
      try {
        var r = in.read(buf)
        while (r >= 0) {
          md.update(buf, 0, r)
          if (status >= 400 && head.size < 2000) head.write(buf, 0, math.min(r, 2000))
          n += r; r = in.read(buf)
        }
      } finally in.close()
    }
    val t1 = System.nanoTime()
    Reply(status, hex(md.digest()), n, t0, t1, head.toString("UTF-8"))
  }
}

/** Order statistics, nearest-rank. */
object Stats {
  def pct(xs: collection.Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }
  def median(xs: collection.Seq[Double]): Double = pct(xs, 0.5)

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value), or None below 20 samples. */
  def tail(xs: collection.Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 20) None
    else {
      val p = math.floor(1000.0 * (1.0 - 10.0 / xs.size)) / 1000.0
      Some((p * 100, pct(xs, p)))
    }
}
