package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.UUID
import java.util.concurrent.Executors

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.state.StateStore
import graft.util.FileCommit

/** Pub/Sub push ingress (SURVEY §2.1 S6) — the HTTP endpoint the
  * reference exposes for storage-notification delivery
  * (`pkg/controller/server/server.go:34-100`), re-expressed for Spark's
  * execution model.
  *
  * The reference processes the object INSIDE the request handler and
  * acks afterwards. A Spark driver can't run a distributed job per HTTP
  * request, so the receiver splits that contract at the durable
  * boundary instead: validate + decode the envelope, append the inner
  * storage-event JSON to a spool directory with an atomic rename, and
  * only then return 2xx. A non-2xx answer (malformed → 400, spool IO
  * failure → 500) makes Pub/Sub redeliver — exactly the reference's
  * ack/nack semantics — and the checkpointed stream over the spool
  * ([[graft.ingest.Pipeline.streamNotifications]]) carries the
  * at-least-once guarantee from there (replays are idempotent via the
  * deterministic row id + optional dedup).
  *
  * Request-gate order mirrors the reference's middleware chain
  * (`pkg/controller/server/middleware.go`): authorization (401) →
  * memory limit (429) → handler.
  *
  *   - `auth`: caller-supplied predicate ≡ the Rego `package auth`
  *     bearer-token policy (`middleware.go:17-46`,
  *     `server/testdata/policy/auth_token.rego`); see
  *     [[PushReceiver.bearerToken]] for the fixture-equivalent check.
  *     Denied requests get 401 and are never spooled.
  *   - `memoryLimitBytes`: deliveries are answered 429 while JVM heap
  *     use exceeds the limit (`middleware.go:89-108` MemoryLimit; 0
  *     disables). Pub/Sub backs off and redelivers — backpressure
  *     without dropping data (SURVEY §2.7 T6).
  *   - `state`: optional shared [[graft.state.StateStore]] keyed by the
  *     envelope's message id — the reference's per-message
  *     skip-if-completed / wait-if-running / take-over-if-expired dance
  *     (`server.go:121-146`). With several receiver workers sharing one
  *     spool + state dir, a redelivered message is spooled exactly once;
  *     a crashed owner's message is re-acquired after its expiry.
  *
  * Driver-side only and metadata-sized: one small JSON line per object
  * notification, never record data. jackson ships with Spark; no extra
  * dependency.
  */
final class PushReceiver(spoolDir: String, port: Int = 0,
    auth: HttpExchange => Boolean = _ => true,
    state: Option[StateStore] = None,
    memoryLimitBytes: Long = 0L,
    heapUsed: () => Long = PushReceiver.jvmHeapUsed,
    /** How long a blocked delivery defers to the current owner before
      * nacking (ref WaitState bounded by the state's ExpiresAt;
      * `pkg/usecase/state.go:45-66`). Short default: Pub/Sub redelivers
      * anyway, so waiting mostly serves same-instant duplicate bursts. */
    waitBudgetMillis: Long = 2000L) {

  private val mapper = new ObjectMapper
  Files.createDirectories(Paths.get(spoolDir))
  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  private val pool = Executors.newFixedThreadPool(4)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))

  /** Bound port (useful with port=0 for tests). */
  def boundPort: Int = server.getAddress.getPort

  def start(): PushReceiver = { server.start(); this }

  /** HttpServer.stop does NOT terminate a caller-supplied executor —
    * without the explicit shutdown the non-daemon worker threads keep
    * the JVM alive after the receiver stops. */
  def stop(): Unit = { server.stop(0); pool.shutdown() }

  private def respond(ex: HttpExchange, code: Int, msg: String): Unit = {
    val body = msg.getBytes(UTF_8)
    // 204/205 MUST NOT carry content (RFC 9110 §15.3.5-6) — a body on
    // them makes strict clients/proxies mis-frame the response
    if (code == 204 || code == 205 || body.isEmpty) ex.sendResponseHeaders(code, -1)
    else { ex.sendResponseHeaders(code, body.length); ex.getResponseBody.write(body) }
    ex.close()
  }

  private def handle(ex: HttpExchange): Unit =
    try {
      if (ex.getRequestMethod != "POST") { respond(ex, 405, "POST only"); return }
      if (!auth(ex)) { respond(ex, 401, "Unauthorized"); return }
      if (memoryLimitBytes > 0 && heapUsed() > memoryLimitBytes) {
        respond(ex, 429, "Memory limit exceeded"); return
      }
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      decodeEnvelope(body) match {
        case Left(err) => respond(ex, 400, err)
        case Right(env) => deliver(ex, env)
      }
    } catch {
      // spool write failed → nack so the sender redelivers
      case e: Exception => respond(ex, 500, s"spool failure: ${e.getMessage}")
    }

  /** Spool one decoded delivery, running the reference's message state
    * machine when a store is configured (`server.go:121-146`):
    * acquire → spool → completed; on acquire loss, skip if the owner
    * completed, else defer briefly and ack/nack on the outcome. The
    * failed path marks the state failed so the REDELIVERY re-acquires
    * immediately (ref: failed → always re-acquire).
    *
    * The still-owned-elsewhere outcome answers **205 Reset Content**,
    * mirroring the reference's deliberate choice (`server.go:66-76,
    * 134-139`): 205 is outside Pub/Sub's ack set {102,200,201,202,204},
    * so the message IS redelivered — but unlike a 500 it doesn't count
    * against the push endpoint's error-rate or dead-letter policy; it
    * says "try again shortly", not "the endpoint is broken". Genuine
    * spool failures keep answering 500. */
  private def deliver(ex: HttpExchange, env: Envelope): Unit =
    (state, env.messageId) match {
      case (Some(st), Some(id)) =>
        if (st.acquire(id)) {
          try { spool(env.inner); st.markCompleted(id); respond(ex, 204, "") }
          catch { case e: Exception =>
            st.markFailed(id)
            respond(ex, 500, s"spool failure: ${e.getMessage}")
          }
        } else st.get(id).map(_.state) match {
          case Some("completed") => respond(ex, 204, "") // duplicate: ack, skip
          case _ =>
            // another worker owns it right now — defer, then decide
            st.waitState(id, System.currentTimeMillis() + waitBudgetMillis,
              checkIntervalMillis = 50L) match {
              case Some("completed") => respond(ex, 204, "")
              case _ => respond(ex, 205, "message is being processed elsewhere")
            }
        }
      case _ =>
        spool(env.inner); respond(ex, 204, "")
    }

  /** Decoded push envelope: the inner storage-event JSON (compacted to
    * one spool line) plus the Pub/Sub message id when present (the
    * state-machine key; the reference's `PubSubMessage.MessageID`,
    * `model/message.go:37-42` — we accept both its `message_id` tag and
    * the Pub/Sub wire form `messageId`). */
  private[sources] final case class Envelope(inner: String, messageId: Option[String])

  /** Envelope → [[Envelope]], or a 400-worthy error. Mirrors the
    * reference's decode order: envelope JSON → base64 message.data →
    * inner JSON with name+bucket (`pkg/domain/model/message.go:32-58`). */
  private[sources] def decodeEnvelope(body: String): Either[String, Envelope] = {
    val env = try mapper.readTree(body) catch {
      case e: Exception => return Left(s"envelope is not JSON: ${e.getMessage}")
    }
    val msg = env.path("message")
    val data = msg.path("data")
    if (!data.isTextual) return Left("missing message.data")
    val inner = try new String(java.util.Base64.getDecoder.decode(data.asText), UTF_8)
    catch { case _: IllegalArgumentException => return Left("message.data is not base64") }
    val ev = try mapper.readTree(inner) catch {
      case e: Exception => return Left(s"decoded payload is not JSON: ${e.getMessage}")
    }
    if (!ev.path("name").isTextual || !ev.path("bucket").isTextual)
      return Left("payload is not a storage event (name/bucket missing)")
    val id = Seq("messageId", "message_id").iterator
      .map(msg.path).find(_.isTextual).map(_.asText)
    Right(Envelope(mapper.writeValueAsString(ev), id)) // compact: exactly one spool line
  }

  /** Durable append, fsync-free: [[FileCommit.replace]] stages under a
    * hidden temp name, so the file source never sees half a file. */
  private def spool(line: String): Unit =
    FileCommit.replace(Paths.get(spoolDir, s"${UUID.randomUUID()}.json"),
      (line + "\n").getBytes(UTF_8))
}

object PushReceiver {

  /** The reference auth fixture as a predicate: allow iff some
    * `Authorization` header value equals `Bearer <token>`
    * (`server/testdata/policy/auth_token.rego`,
    * `input.header.Authorization[_] == "Bearer good-token"`).
    * Compared constant-time (`MessageDigest.isEqual`) — ordinary string
    * equality short-circuits on the first differing byte, a timing side
    * channel on the shared token. */
  def bearerToken(token: String): HttpExchange => Boolean = {
    val expected = s"Bearer $token".getBytes(UTF_8)
    ex => {
      val vs = ex.getRequestHeaders.get("Authorization")
      vs != null && vs.stream().anyMatch(v =>
        java.security.MessageDigest.isEqual(v.getBytes(UTF_8), expected))
    }
  }

  /** HMAC-JWT (HS256) bearer validator — the claims-verifying auth
    * shape the reference documents for real push deployments
    * (`docs/rule.md:252-283`: an `io.jwt.decode_verify` policy over
    * `input.header.Authorization`; input model
    * `pkg/domain/model/policy.go:8-19`). Allows iff some
    * `Authorization: Bearer <jwt>` header carries a token that:
    *
    *   - declares `alg: HS256` in its header (anything else — `none`,
    *     an RS* downgrade — is rejected outright: this validator only
    *     ever holds a shared secret, so no other algorithm can be
    *     legitimate);
    *   - has a valid HMAC-SHA256 signature over `header.payload`,
    *     compared constant-time like [[bearerToken]];
    *   - is within its validity window: `exp` REQUIRED and strictly in
    *     the future (a token minted without exp would be valid forever
    *     — every legitimate issuer sets it), `nbf` not in the future
    *     when present (both NumericDate seconds, RFC 7519 §4.1.4-5);
    *   - carries every claim in `requiredClaims` with exactly the
    *     given textual value (pin `iss`/`aud` here).
    *
    * Failures are indistinguishable to the caller (all 401, like the
    * reference's opaque policy deny) and never throw — a malformed
    * token is just unauthorized. */
  def jwtBearer(secret: String,
      requiredClaims: Map[String, String] = Map.empty,
      nowEpochSeconds: () => Long = () => System.currentTimeMillis() / 1000L)
      : HttpExchange => Boolean = {
    val mapper = new ObjectMapper
    val key = new javax.crypto.spec.SecretKeySpec(secret.getBytes(UTF_8), "HmacSHA256")
    def verify(token: String): Boolean = token.split('.') match {
      case Array(h, p, s) =>
        try {
          val dec = java.util.Base64.getUrlDecoder
          // Mac instances are not thread-safe — one per request
          val mac = javax.crypto.Mac.getInstance("HmacSHA256")
          mac.init(key)
          val expected = mac.doFinal(s"$h.$p".getBytes(UTF_8))
          val header = mapper.readTree(dec.decode(h))
          val claims = mapper.readTree(dec.decode(p))
          header.path("alg").asText() == "HS256" &&
            java.security.MessageDigest.isEqual(dec.decode(s), expected) &&
            claims.path("exp").isNumber && claims.path("exp").asLong() > nowEpochSeconds() &&
            (!claims.has("nbf") || claims.path("nbf").asLong() <= nowEpochSeconds()) &&
            requiredClaims.forall { case (k, v) =>
              claims.path(k).isTextual && claims.path(k).asText() == v
            }
        } catch { case _: Exception => false }
      case _ => false
    }
    ex => {
      val vs = ex.getRequestHeaders.get("Authorization")
      vs != null && vs.stream().anyMatch(v =>
        v.startsWith("Bearer ") && verify(v.substring("Bearer ".length)))
    }
  }

  /** RS256-over-JWKS bearer validator — the reference's documented
    * PRODUCTION auth for Pub/Sub push deployments
    * (`docs/rule.md:252-283`: `io.jwt.verify_rs256` against Google's
    * JWKS, with pinned `iss` and `email` claims). Google signs push ID
    * tokens with ITS keys, so a shared-secret validator ([[jwtBearer]])
    * can never verify them; this one holds only PUBLIC keys.
    *
    * `jwks` supplies the JWK Set JSON (`{"keys":[{kty,kid,n,e,…},…]}`)
    * — in production a fetch of
    * `https://www.googleapis.com/oauth2/v3/certs`, wrapped in
    * [[cachedSupplier]] for the reference policy's
    * `force_cache_duration_seconds: 3600` behavior; in tests, a local
    * fixture. The supplier is consulted per request (rotation works
    * without a restart); any supplier/parse failure means "deny all",
    * never an exception.
    *
    * Token checks mirror the reference policy exactly:
    *
    *   - header `alg` must be `RS256` (`none`/HS* downgrades rejected);
    *   - signature: SHA256withRSA over `header.payload`, verified with
    *     the JWK matching the header's `kid` — or, when the token
    *     carries no kid, any RSA key in the set (JWKS rotation keeps
    *     old+new published);
    *   - `exp` REQUIRED and strictly in the future, `nbf` not in the
    *     future when present — same window rules as [[jwtBearer]];
    *   - every `requiredClaims` entry present with exactly the given
    *     textual value (pin `iss` to `https://accounts.google.com` and
    *     `email` to the push service account, per the reference doc).
    *
    * Failures are indistinguishable to the caller (all 401). */
  def jwtBearerRs256(jwks: () => String,
      requiredClaims: Map[String, String] = Map.empty,
      nowEpochSeconds: () => Long = () => System.currentTimeMillis() / 1000L)
      : HttpExchange => Boolean = {
    val mapper = new ObjectMapper
    def verify(token: String): Boolean = token.split('.') match {
      case Array(_, p, _) =>
        try {
          val claims = mapper.readTree(java.util.Base64.getUrlDecoder.decode(p))
          graft.util.Jwks.signatureValid(token, jwks()) &&
            claims.path("exp").isNumber && claims.path("exp").asLong() > nowEpochSeconds() &&
            (!claims.has("nbf") || claims.path("nbf").asLong() <= nowEpochSeconds()) &&
            requiredClaims.forall { case (k, v) =>
              claims.path(k).isTextual && claims.path(k).asText() == v
            }
        } catch { case _: Exception => false }
      case _ => false
    }
    ex => {
      val vs = ex.getRequestHeaders.get("Authorization")
      vs != null && vs.stream().anyMatch(v =>
        v.startsWith("Bearer ") && verify(v.substring("Bearer ".length)))
    }
  }

  /** Memoize a JWKS fetch for `ttlSeconds` — the reference policy's
    * `force_cache`/`force_cache_duration_seconds` knob
    * (`docs/rule.md:253-258`). Thread-safe; a throwing fetch is not
    * cached (the next request retries), and [[jwtBearerRs256]] treats
    * the propagated failure as deny. */
  def cachedSupplier(ttlSeconds: Long, fetch: () => String,
      nowMillis: () => Long = () => System.currentTimeMillis()): () => String = {
    val ref = new java.util.concurrent.atomic.AtomicReference[(Long, String)]()
    () => {
      val cur = ref.get()
      val now = nowMillis()
      if (cur != null && now - cur._1 < ttlSeconds * 1000L) cur._2
      else {
        val v = fetch()
        ref.set((now, v))
        v
      }
    }
  }

  /** HeapAlloc analogue for the 429 guard (`middleware.go:89-108`). */
  def jvmHeapUsed(): Long = {
    val rt = Runtime.getRuntime
    rt.totalMemory() - rt.freeMemory()
  }
}
