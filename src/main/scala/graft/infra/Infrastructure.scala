package graft.infra

import java.net.{InetSocketAddress, Socket, URI}

/** Infrastructure health checks (reference: infrastructure.py).
  *
  * Network access goes through [[HttpProbe]] so the checks are testable
  * offline (and a zero-egress deployment can plug a no-op probe). Port
  * probes use a plain TCP connect, exactly like the reference's
  * socket.connect_ex loop (infrastructure.py:14-41).
  */
sealed trait ProbeResult
object ProbeResult {
  /** The server answered with an HTTP status (any status = reachable). */
  final case class Status(code: Int) extends ProbeResult
  final case class ConnectFailed(detail: String) extends ProbeResult
  case object TimedOut extends ProbeResult
}

trait HttpProbe {
  def get(url: String, timeoutMs: Int): ProbeResult
}

/** Real probe over java.net.HttpURLConnection. */
object JavaHttpProbe extends HttpProbe {
  def get(url: String, timeoutMs: Int): ProbeResult = {
    import java.net.HttpURLConnection
    try {
      val conn = new URI(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
      conn.setConnectTimeout(timeoutMs)
      conn.setReadTimeout(timeoutMs)
      conn.setRequestMethod("GET")
      val code = conn.getResponseCode
      conn.disconnect()
      ProbeResult.Status(code)
    } catch {
      case _: java.net.SocketTimeoutException => ProbeResult.TimedOut
      case e: Exception => ProbeResult.ConnectFailed(String.valueOf(e.getMessage))
    }
  }
}

final case class InfrastructureReport(errors: Seq[String], warnings: Seq[String])

object Infrastructure {

  /** TCP-connect probe of required ports; throws listing every failed
    * port (infrastructure.py:14-41).
    */
  def validateRequiredPorts(
      ports: Seq[Int],
      host: String = "localhost",
      timeoutMs: Int = 2000): Unit = {
    val failed = ports.filterNot { port =>
      try {
        val sock = new Socket()
        try { sock.connect(new InetSocketAddress(host, port), timeoutMs); true }
        finally sock.close()
      } catch { case _: Exception => false }
    }
    if (failed.nonEmpty)
      throw new IllegalArgumentException(
        s"Ports not accessible on $host: ${failed.mkString("[", ", ", "]")}")
  }

  private def baseUrl(uri: String): String = {
    val u = new URI(uri)
    s"${u.getScheme}://${u.getAuthority}"
  }

  /** Nessie reachability: /api/v1/config answering 200/404, then /api/v1
    * answering 200/404/405, count as up (infrastructure.py:44-85).
    */
  def checkNessieConnectivity(
      uri: String,
      probe: HttpProbe = JavaHttpProbe,
      timeoutMs: Int = 5000): Unit = {
    val base = baseUrl(uri)
    probe.get(s"$base/api/v1/config", timeoutMs) match {
      case ProbeResult.Status(c) if c == 200 || c == 404 => ()
      case ProbeResult.ConnectFailed(d) =>
        throw new IllegalArgumentException(s"Cannot connect to Nessie at $uri: $d")
      case ProbeResult.TimedOut =>
        throw new IllegalArgumentException(s"Nessie connection timeout at $uri")
      case ProbeResult.Status(_) =>
        probe.get(s"$base/api/v1", timeoutMs) match {
          case ProbeResult.Status(c) if c == 200 || c == 404 || c == 405 => ()
          case ProbeResult.Status(c) =>
            throw new IllegalArgumentException(
              s"Nessie connectivity check failed: HTTP $c")
          case ProbeResult.ConnectFailed(d) =>
            throw new IllegalArgumentException(s"Cannot connect to Nessie at $uri: $d")
          case ProbeResult.TimedOut =>
            throw new IllegalArgumentException(s"Nessie connection timeout at $uri")
        }
    }
  }

  /** S3/MinIO reachability: the MinIO liveness endpoint answering 200,
    * or ANY http response from the endpoint itself (403 Forbidden means
    * the server is there), counts as up (infrastructure.py:88-130).
    */
  def checkS3Connectivity(
      endpoint: String,
      probe: HttpProbe = JavaHttpProbe,
      timeoutMs: Int = 5000): Unit = {
    val healthOk = probe.get(s"${baseUrl(endpoint)}/minio/health/live", timeoutMs) match {
      case ProbeResult.Status(200) => true
      case _ => false
    }
    if (!healthOk) probe.get(endpoint, timeoutMs) match {
      case ProbeResult.Status(_) => ()
      case ProbeResult.ConnectFailed(d) =>
        throw new IllegalArgumentException(s"Cannot connect to S3 at $endpoint: $d")
      case ProbeResult.TimedOut =>
        throw new IllegalArgumentException(s"S3 connection timeout at $endpoint")
    }
  }

  private def portOf(uri: String, default: Int): Int = {
    try { val p = new URI(uri).getPort; if (p > 0) p else default }
    catch { case _: Exception => default }
  }

  /** Full per-target validation (infrastructure.py:132-229): env-var
    * presence + connectivity are ERRORS; port probes and a missing
    * catalog are WARNINGS. `targetType`/`hasCatalog` come from the
    * resolved target config.
    */
  def validateTarget(
      targetType: String,
      hasCatalog: Boolean,
      env: Map[String, String] = sys.env,
      probe: HttpProbe = JavaHttpProbe,
      portCheck: (Seq[Int], String) => Unit = (ps, h) => validateRequiredPorts(ps, h)
  ): InfrastructureReport = {
    var errors = Vector.empty[String]
    var warnings = Vector.empty[String]
    def tryPorts(label: String, ports: Seq[Int]): Unit =
      try portCheck(ports, "localhost")
      catch { case e: Exception => warnings :+= s"$label port check: ${e.getMessage}" }

    targetType match {
      case "iceberg" =>
        val s3Endpoint = env.get("S3_ENDPOINT")
        s3Endpoint match {
          case None => errors :+= "S3_ENDPOINT environment variable is not set"
          case Some(ep) =>
            try checkS3Connectivity(ep, probe)
            catch { case e: Exception => errors :+= s"S3 connectivity failed: ${e.getMessage}" }
        }
        if (hasCatalog) {
          val nessieUri = env.get("NESSIE_URI")
          nessieUri match {
            case None =>
              errors :+= "NESSIE_URI environment variable is not set (required for catalog)"
            case Some(uri) =>
              try checkNessieConnectivity(uri, probe)
              catch { case e: Exception => errors :+= s"Nessie connectivity failed: ${e.getMessage}" }
          }
          tryPorts("Nessie", Seq(nessieUri.map(portOf(_, 19120)).getOrElse(19120)))
        } else
          warnings :+= "No catalog configured - Iceberg metadata operations will be skipped"
        tryPorts("S3", Seq(s3Endpoint.map(portOf(_, 9000)).getOrElse(9000)))
      case "s3" =>
        env.get("S3_ENDPOINT") match {
          case None => errors :+= "S3_ENDPOINT environment variable is not set"
          case Some(ep) =>
            try checkS3Connectivity(ep, probe)
            catch { case e: Exception => errors :+= s"S3 connectivity failed: ${e.getMessage}" }
        }
      case _ => ()
    }
    InfrastructureReport(errors, warnings)
  }

  /** Reference-style entry point: log warnings, throw the joined errors
    * (infrastructure.py:221-229).
    */
  def validateOrThrow(
      targetType: String,
      hasCatalog: Boolean,
      env: Map[String, String] = sys.env,
      probe: HttpProbe = JavaHttpProbe,
      log: String => Unit = m => System.err.println(s"[graft] $m")): Unit = {
    val r = validateTarget(targetType, hasCatalog, env, probe)
    r.warnings.foreach(w => log(s"Infrastructure warning: $w"))
    if (r.errors.nonEmpty)
      throw new IllegalArgumentException(r.errors.mkString("; "))
  }
}
