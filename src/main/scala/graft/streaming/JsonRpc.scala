package graft.streaming

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import graft.schema.Model._

/** Ethereum JSON-RPC codec — the PROTOCOL half of the reference's
  * connector, which it gets from go-ethereum's `ethclient`
  * (`app/block/fetch.go:21-98` issues BlockByNumber/TransactionReceipt;
  * `app/block/pack_tx.go:16-60` maps the results into its packed rows).
  * The wire format is the public `eth` namespace (JSON-RPC 2.0,
  * hex-QUANTITY / hex-DATA encodings per the Ethereum JSON-RPC spec):
  *
  *  - request builders for `eth_blockNumber`, `eth_getBlockByNumber`
  *    (full transactions), `eth_getTransactionReceipt`
  *  - response envelope + hex decoding, and assembly of one
  *    [[graft.schema.Model.PackedBlock]] from a block response plus its
  *    per-transaction receipts — the exact pack_tx.go mapping: `to` XOR
  *    `contract` from receipt.contractAddress, `cost` computed as
  *    gasPrice·gas + value (go-ethereum `tx.Cost()`), receipt status as
  *    `state`, logs as events
  *  - node-side ENCODERS for the same shapes, so the codec is testable
  *    offline as a construct→parse identity (the ImageHeader pattern)
  *    and a simulated node can serve any [[BlockFetcher]] fixture over
  *    real HTTP
  *
  * Everything here is driver/executor CONTROL-plane code sized to one
  * block per call — the data plane stays Spark (the DSv2 source turns
  * fetched packed blocks into partitions; see [[ChainSimSource]]).
  */
object JsonRpc {

  private val mapper = new ObjectMapper()

  // ---- hex wire forms ---------------------------------------------------

  /** QUANTITY: minimal hex, `0x0` for zero. */
  def quantity(n: BigInt): String = {
    require(n >= 0, s"negative quantity: $n")
    "0x" + n.toString(16)
  }

  def parseQuantity(s: String): BigInt = {
    require(s != null && s.startsWith("0x") && s.length > 2, s"bad quantity: $s")
    BigInt(s.drop(2), 16)
  }

  def parseQuantityLong(s: String): Long = parseQuantity(s).longValue

  /** DATA: even-length hex, empty bytes (or null column) → `0x`. */
  def dataHex(b: Array[Byte]): String =
    if (b == null || b.isEmpty) "0x"
    else "0x" + b.map("%02x".format(_)).mkString

  def parseData(s: String): Array[Byte] = {
    require(s != null && s.startsWith("0x") && s.length % 2 == 0, s"bad data: $s")
    s.drop(2).grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
  }

  // ---- requests ---------------------------------------------------------

  private def request(id: Long, method: String)(params: ArrayNode => Unit): String = {
    val o = mapper.createObjectNode()
    o.put("jsonrpc", "2.0").put("id", id).put("method", method)
    params(o.putArray("params"))
    mapper.writeValueAsString(o)
  }

  def blockNumberRequest(id: Long): String =
    request(id, "eth_blockNumber")(_ => ())

  /** `true`: full transaction objects, as the reference's BlockByNumber. */
  def blockByNumberRequest(id: Long, n: Long): String =
    request(id, "eth_getBlockByNumber")(p => { p.add(quantity(n)); p.add(true); () })

  def receiptRequest(id: Long, txHash: String): String =
    request(id, "eth_getTransactionReceipt")(p => { p.add(txHash); () })

  // ---- pub/sub (eth_subscribe, the reference listener.go:20-171) --------

  /** `eth_subscribe` over a websocket transport; topic is `newHeads`
    * for the S1 head stream. */
  def subscribeRequest(id: Long, topic: String): String =
    request(id, "eth_subscribe")(p => { p.add(topic); () })

  /** Node-side encoder: the subscription-id result for a subscribe. */
  def subscribeResponse(id: Long, subId: String): String =
    envelope(id, mapper.getNodeFactory.textNode(subId))

  def parseSubscriptionId(body: String): Option[String] =
    result(body).map(_.asText())

  /** Node-side encoder: one `eth_subscription` newHeads notification —
    * id-less per JSON-RPC 2.0 notification rules, header fields in the
    * standard hex wire forms. */
  def newHeadNotification(subId: String, number: Long, hash: String): String = {
    val o = mapper.createObjectNode()
    o.put("jsonrpc", "2.0").put("method", "eth_subscription")
    val params = o.putObject("params")
    params.put("subscription", subId)
    val res = params.putObject("result")
    res.put("number", quantity(number))
    res.put("hash", hash)
    mapper.writeValueAsString(o)
  }

  /** The new head number from an `eth_subscription` notification frame;
    * None for anything else (responses, pings, other subscriptions). */
  def parseNewHead(body: String): Option[Long] =
    try {
      val root = mapper.readTree(body)
      if (root.path("method").asText() != "eth_subscription") None
      else {
        val num = root.path("params").path("result").path("number")
        if (num.isMissingNode || num.isNull) None
        else Some(parseQuantityLong(num.asText()))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  // ---- response envelope ------------------------------------------------

  /** The `result` member, or None on a JSON-RPC error object or a null
    * result (how a node reports "no such block yet"). */
  def result(body: String): Option[JsonNode] = {
    val root = mapper.readTree(body)
    if (root.has("error") || !root.has("result") || root.get("result").isNull) None
    else Some(root.get("result"))
  }

  def parseHead(body: String): Option[Long] =
    result(body).map(r => parseQuantityLong(r.asText()))

  // ---- assembly (pack_tx.go:16-60) --------------------------------------

  private def text(n: JsonNode, field: String): String = {
    val v = n.get(field)
    if (v == null || v.isNull) null else v.asText()
  }

  /** One packed block from a full-tx block response and a receipt
    * response per transaction hash. Receipts drive the fields the block
    * body lacks — status, contractAddress, logs — exactly as the
    * reference packs them; a missing receipt means the node is mid-sync,
    * so the whole block is reported as a hole (None). Today nothing
    * re-fetches a hole: the live source skips it. */
  def assemble(blockNode: JsonNode,
      receiptOf: String => Option[JsonNode]): Option[PackedBlock] = {
    val blockHash = text(blockNode, "hash")
    val header = Block(
      hash = blockHash,
      number = parseQuantityLong(text(blockNode, "number")),
      time = parseQuantityLong(text(blockNode, "timestamp")),
      parenthash = text(blockNode, "parentHash"),
      difficulty = parseQuantity(text(blockNode, "difficulty")).toString,
      gasused = parseQuantityLong(text(blockNode, "gasUsed")),
      gaslimit = parseQuantityLong(text(blockNode, "gasLimit")),
      nonce = text(blockNode, "nonce"), // 8-byte DATA, stored verbatim
      miner = text(blockNode, "miner"),
      size = parseQuantityLong(text(blockNode, "size")).toDouble,
      stateroothash = text(blockNode, "stateRoot"),
      unclehash = text(blockNode, "sha3Uncles"),
      txroothash = text(blockNode, "transactionsRoot"),
      receiptroothash = text(blockNode, "receiptsRoot"),
      extradata = parseData(text(blockNode, "extraData")))

    val txNodes = blockNode.get("transactions")
    val packed = Vector.newBuilder[PackedTransaction]
    var i = 0
    while (i < (if (txNodes == null) 0 else txNodes.size())) {
      val t = txNodes.get(i)
      val txHash = text(t, "hash")
      receiptOf(txHash) match {
        case None => return None // partial block = hole, retry later
        case Some(r) =>
          val to = text(t, "to")
          val contractAddress = text(r, "contractAddress")
          val gas = parseQuantityLong(text(t, "gas"))
          val gasPrice = parseQuantity(text(t, "gasPrice"))
          val value = parseQuantity(text(t, "value"))
          val tx = Transaction(
            hash = txHash,
            from = text(t, "from"),
            to = if (to == null) "" else to,
            contract = if (to == null) contractAddress else "",
            value = value.toString,
            data = parseData(text(t, "input")),
            gas = gas,
            gasprice = gasPrice.toString,
            cost = (gasPrice * gas + value).toString, // tx.Cost()
            nonce = parseQuantityLong(text(t, "nonce")),
            state = parseQuantity(text(r, "status")).toInt,
            blockhash = blockHash)
          val logs = r.get("logs")
          val events = (0 until (if (logs == null) 0 else logs.size())).map { k =>
            val l = logs.get(k)
            val topicsNode = l.get("topics")
            Event(
              blockhash = blockHash,
              index = parseQuantityLong(text(l, "logIndex")).toInt,
              origin = text(l, "address"),
              topics = (0 until topicsNode.size()).map(topicsNode.get(_).asText()),
              data = parseData(text(l, "data")),
              txhash = text(l, "transactionHash"))
          }
          packed += PackedTransaction(tx, events)
      }
      i += 1
    }
    Some(PackedBlock(header, packed.result()))
  }

  // ---- node-side encoders (the inverse mapping, for offline serving) ----

  private def envelope(id: Long, result: JsonNode): String = {
    val o = mapper.createObjectNode()
    o.put("jsonrpc", "2.0").put("id", id)
    o.set[ObjectNode]("result", result)
    mapper.writeValueAsString(o)
  }

  def encodeHead(id: Long, head: Long): String =
    envelope(id, mapper.getNodeFactory.textNode(quantity(head)))

  def encodeNull(id: Long): String = {
    val o = mapper.createObjectNode()
    o.put("jsonrpc", "2.0").put("id", id)
    o.set[ObjectNode]("result", mapper.getNodeFactory.nullNode())
    mapper.writeValueAsString(o)
  }

  def encodeBlock(id: Long, pb: PackedBlock): String = {
    val b = pb.block
    val o = mapper.createObjectNode()
    o.put("hash", b.hash)
    o.put("number", quantity(BigInt(b.number)))
    o.put("timestamp", quantity(BigInt(b.time)))
    o.put("parentHash", b.parenthash)
    o.put("difficulty", quantity(BigInt(b.difficulty)))
    o.put("gasUsed", quantity(BigInt(b.gasused)))
    o.put("gasLimit", quantity(BigInt(b.gaslimit)))
    o.put("nonce", b.nonce)
    o.put("miner", b.miner)
    o.put("size", quantity(BigInt(math.round(b.size))))
    o.put("stateRoot", b.stateroothash)
    o.put("sha3Uncles", b.unclehash)
    o.put("transactionsRoot", b.txroothash)
    o.put("receiptsRoot", b.receiptroothash)
    o.put("extraData", dataHex(b.extradata))
    val arr = o.putArray("transactions")
    pb.transactions.foreach { pt =>
      val t = pt.tx
      val tn = arr.addObject()
      tn.put("hash", t.hash)
      tn.put("from", t.from)
      if (t.to.nonEmpty) tn.put("to", t.to)
      else tn.set[ObjectNode]("to", mapper.getNodeFactory.nullNode())
      tn.put("value", quantity(BigInt(t.value)))
      tn.put("input", dataHex(t.data))
      tn.put("gas", quantity(BigInt(t.gas)))
      tn.put("gasPrice", quantity(BigInt(t.gasprice)))
      tn.put("nonce", quantity(BigInt(t.nonce)))
      tn.put("blockHash", t.blockhash)
      ()
    }
    envelope(id, o)
  }

  def encodeReceipt(id: Long, pt: PackedTransaction): String = {
    val t = pt.tx
    val r = mapper.createObjectNode()
    r.put("transactionHash", t.hash)
    r.put("status", quantity(BigInt(t.state)))
    r.put("blockHash", t.blockhash)
    if (t.contract.nonEmpty) r.put("contractAddress", t.contract)
    else r.set[ObjectNode]("contractAddress", mapper.getNodeFactory.nullNode())
    val logs = r.putArray("logs")
    pt.events.foreach { e =>
      val ln = logs.addObject()
      ln.put("address", e.origin)
      val ts = ln.putArray("topics")
      e.topics.foreach(ts.add)
      ln.put("data", dataHex(e.data))
      ln.put("logIndex", quantity(BigInt(e.index)))
      ln.put("transactionHash", e.txhash)
      ln.put("blockHash", e.blockhash)
      ()
    }
    envelope(id, r)
  }
}

/** One JSON-RPC exchange: request body in, response body out. Transports
  * are Serializable CONFIG (the [[BlockFetcher]] contract): live sockets
  * never serialize — [[HttpTransport]] opens its client lazily on
  * whichever executor the partition reader lands on. */
trait RpcTransport extends Serializable {
  def call(body: String): String
}

/** HTTP POST transport over the JDK's `java.net.http` — no added
  * dependencies. One client per JVM-side instance, created on first use. */
final case class HttpTransport(endpoint: String, timeoutMs: Long = 10000L)
    extends RpcTransport {
  @transient private lazy val client = java.net.http.HttpClient.newHttpClient()
  override def call(body: String): String = {
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(endpoint))
      .timeout(java.time.Duration.ofMillis(timeoutMs))
      .header("Content-Type", "application/json")
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
      .build()
    client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString()).body()
  }
}

/** The real S2/S3 fetch half: a [[BlockFetcher]] speaking Ethereum
  * JSON-RPC through any [[RpcTransport]] (`app/block/fetch.go:21-98`,
  * reimplemented from the public protocol instead of ethclient). Any
  * failed or partial fetch — RPC error object, null result, missing
  * receipt — degrades to a HOLE (None). No retry loop lives here, and
  * none lives in `graft.Serve` either: [[ChainSimSource]] skips a None
  * height and nothing re-fetches it later, where the reference keeps a
  * retry queue. */
final case class JsonRpcFetcher(transport: RpcTransport) extends BlockFetcher {
  @transient private lazy val ids = new java.util.concurrent.atomic.AtomicLong(0L)
  @transient private lazy val lastHead = new java.util.concurrent.atomic.AtomicLong(-1L)

  /** A failed or malformed head poll reports the LAST known head (-1
    * before any success = "nothing available yet"): `latestOffset` then
    * plans an empty batch and the next trigger retries, instead of one
    * transient node blip terminating the streaming query. Heads also
    * never move backwards here — a lagging node in a round-robin pool
    * cannot retract an offset the stream already planned. */
  override def head(): Long =
    try {
      val h = JsonRpc.parseHead(
        transport.call(JsonRpc.blockNumberRequest(ids.incrementAndGet())))
      h.fold(lastHead.get())(n => lastHead.updateAndGet(p => math.max(p, n)))
    } catch { case scala.util.control.NonFatal(_) => lastHead.get() }

  override def fetchBlock(n: Long): Option[PackedBlock] =
    try {
      JsonRpc.result(transport.call(JsonRpc.blockByNumberRequest(ids.incrementAndGet(), n)))
        .flatMap { blockNode =>
          JsonRpc.assemble(blockNode, txHash =>
            JsonRpc.result(transport.call(JsonRpc.receiptRequest(ids.incrementAndGet(), txHash))))
        }
    } catch { // malformed response ≡ unreachable node: a retryable hole
      case scala.util.control.NonFatal(_) => None
    }
}
