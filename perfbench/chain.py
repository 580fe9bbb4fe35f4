"""The sim chain's closed-form content, mirrored from graft.fixtures.EvmFixtures
and graft.streaming.ChainSimSource, and the request mix the serve workloads
send, each request paired with a check of its response.

Block n (absent when n % 97 == 13) has n % 6 transactions; transaction j of
block n has (n + j) % 4 events. Everything else is a SHA-256 of a label.
"""
import hashlib
import json
import random

BASE_TIME = 1700000000
SECONDS_PER_BLOCK = 12


def _sha(label):
    return hashlib.sha256(label.encode()).hexdigest()


def block_hash(n):
    return "0x" + _sha("genesis-parent" if n < 0 else f"block-{n}")


def tx_hash(n, j):
    return "0x" + _sha(f"tx-{n}-{j}")


def account(i):
    return "0x" + _sha(f"acct-{i}")[:40]


def contract_addr(i):
    return "0x" + _sha(f"contract-{i}")[:40]


def sig(i):
    return "0x" + _sha(f"sig-{i}")


def arg(i):
    return "0x" + _sha(f"arg-{i}")


def is_gap(n):
    return n % 97 == 13


def block_time(n):
    return BASE_TIME + n * SECONDS_PER_BLOCK


def tx_count(n):
    return 0 if is_gap(n) else n % 6


def is_creation(n, j):
    return (n + j) % 11 == 0


def tx_from(n, j):
    return account((n * 7 + j) % 20)


def tx_to(n, j):
    return "" if is_creation(n, j) else account((n * 13 + j * 5 + 1) % 20)


def sim_nonce(n, j):
    return n * 10 + j  # ChainSimSource's per-source nonce domain


def events(n):
    """(tx index, log index, origin, topics) of every event of block n."""
    out, log_index = [], 0
    for j in range(tx_count(n)):
        for e in range((n + j) % 4):
            topics = [sig((n + e) % 5) if k == 0 else arg((n + j * 3 + e * 5 + k) % 10)
                      for k in range((n + j + e) % 5)]
            out.append((j, log_index, contract_addr((n * 3 + j + e) % 8), topics))
            log_index += 1
    return out


def present(lo, hi):
    return [n for n in range(max(lo, 0), hi + 1) if not is_gap(n)]


# ---- response checks -------------------------------------------------------

class Mismatch(Exception):
    pass


def _expect(cond, msg):
    if not cond:
        raise Mismatch(msg)


def _body(status, text, want_status=200):
    _expect(status == want_status, f"status {status}, want {want_status}")
    try:
        return json.loads(text)
    except ValueError:
        raise Mismatch("body is not JSON")


def _ids(docs, key):
    return sorted(d[key] for d in docs)


def check_block(n):
    def check(status, text):
        if is_gap(n):
            _expect(status == 404, f"gap block {n}: status {status}")
            return
        b = _body(status, text)
        _expect(b.get("hash") == block_hash(n) and b.get("number") == n, f"block {n}: wrong hash/number")
    return check


def check_collection(wrapper, key, want):
    want = sorted(want)

    def check(status, text):
        got = _ids(_body(status, text).get(wrapper, []), key)
        _expect(got == want, f"{wrapper}: {len(got)} ids, want {len(want)}")
    return check


def check_single(key, want):
    def check(status, text):
        _expect(_body(status, text).get(key) == want, f"{key} != {want}")
    return check


def check_graphql(field, verify):
    def check(status, text):
        b = _body(status, text)
        _expect(not b.get("errors"), f"graphql errors: {b.get('errors')}")
        verify((b.get("data") or {}).get(field))
    return check


# ---- the request mix -------------------------------------------------------

def _txs(lo, hi, pred):
    return [tx_hash(n, j) for n in present(lo, hi) for j in range(tx_count(n)) if pred(n, j)]


def _evs(lo, hi, pred):
    return [f"{tx_hash(n, j)}#{i}" for n in present(lo, hi) for (j, i, o, t) in events(n) if pred(n, j, o, t)]


def _ev_ids(docs):
    return [f"{d['txHash']}#{d['index']}" for d in docs]


def check_events(want):
    want = sorted(want)

    def check(status, text):
        got = sorted(_ev_ids(_body(status, text).get("events", [])))
        _expect(got == want, f"events: {len(got)} ids, want {len(want)}")
    return check


def _block_with_txs(rng, lo, hi):
    while True:
        n = rng.randint(lo, hi)
        if tx_count(n) > 0:
            return n


def _block_with_events(rng, lo, hi):
    while True:
        n = rng.randint(lo, hi)
        if events(n):
            return n


def make_request(rng, lo, hi, arms):
    """One request: (arm, class, method, path, body, check). Keys are drawn
    from blocks [lo, hi], all of which the store holds."""
    arm = rng.choice(arms)
    width = rng.randint(10, 60)
    a = rng.randint(lo, max(lo, hi - width))
    b = min(hi, a + width)
    ta, tb = block_time(a), block_time(b)
    acct, acct2 = account(rng.randrange(20)), account(rng.randrange(20))
    contract = contract_addr(rng.randrange(8))
    n = rng.randint(lo, hi)
    get = lambda path, check, cls: (arm, cls, "GET", path, None, check)
    if arm == "block_number":
        return get(f"/v1/block?number={n}", check_block(n), "point")
    if arm == "block_hash":
        n = _block_with_txs(rng, lo, hi)
        return get(f"/v1/block?hash={block_hash(n)}", check_block(n), "point")
    if arm == "block_number_txs":
        return get(f"/v1/block?number={n}&tx=yes",
                   check_collection("transactions", "hash", [tx_hash(n, j) for j in range(tx_count(n))]), "point")
    if arm == "block_hash_txs":
        n = _block_with_txs(rng, lo, hi)
        return get(f"/v1/block?hash={block_hash(n)}&tx=yes",
                   check_collection("transactions", "hash", [tx_hash(n, j) for j in range(tx_count(n))]), "point")
    if arm == "blocks_by_number":
        return get(f"/v1/block?fromBlock={a}&toBlock={b}",
                   check_collection("blocks", "number", present(a, b)), "range")
    if arm == "blocks_by_time":
        return get(f"/v1/block?fromTime={ta}&toTime={tb}",
                   check_collection("blocks", "number", present(a, b)), "range")
    if arm == "tx_hash":
        n = _block_with_txs(rng, lo, hi)
        j = rng.randrange(tx_count(n))
        return get(f"/v1/transaction?hash={tx_hash(n, j)}", check_single("blockHash", block_hash(n)), "point")
    if arm == "tx_nonce":
        n = _block_with_txs(rng, lo, hi)
        j = rng.randrange(tx_count(n))
        return get(f"/v1/transaction?fromAccount={tx_from(n, j)}&nonce={sim_nonce(n, j)}",
                   check_single("hash", tx_hash(n, j)), "point")
    tx_range = {
        "tx_deployer": (f"deployer={acct}", lambda n, j: is_creation(n, j) and tx_from(n, j) == acct),
        "tx_between": (f"fromAccount={acct}&toAccount={acct2}",
                       lambda n, j: tx_from(n, j) == acct and tx_to(n, j) == acct2),
        "tx_from": (f"fromAccount={acct}", lambda n, j: tx_from(n, j) == acct),
        "tx_to": (f"toAccount={acct}", lambda n, j: tx_to(n, j) == acct),
    }
    for key, (params, pred) in tx_range.items():
        if arm == key + "_number":
            return get(f"/v1/transaction?{params}&fromBlock={a}&toBlock={b}",
                       check_collection("transactions", "hash", _txs(a, b, pred)), "range")
        if arm == key + "_time":
            return get(f"/v1/transaction?{params}&fromTime={ta}&toTime={tb}",
                       check_collection("transactions", "hash", _txs(a, b, pred)), "range")
    if arm in ("event_hash_index", "event_number_index"):
        n = _block_with_events(rng, lo, hi)
        j, i, _, _ = rng.choice(events(n))
        key = f"blockHash={block_hash(n)}" if arm == "event_hash_index" else f"blockNumber={n}"
        return get(f"/v1/event?{key}&logIndex={i}", check_single("txHash", tx_hash(n, j)), "point")
    if arm == "events_block":
        n = _block_with_events(rng, lo, hi)
        return get(f"/v1/event?blockHash={block_hash(n)}",
                   check_events([f"{tx_hash(n, j)}#{i}" for (j, i, _, _) in events(n)]), "point")
    if arm == "events_tx":
        n = _block_with_events(rng, lo, hi)
        j = rng.choice(events(n))[0]
        return get(f"/v1/event?txHash={tx_hash(n, j)}",
                   check_events([f"{tx_hash(n, j)}#{i}" for (jj, i, _, _) in events(n) if jj == j]), "point")
    if arm == "events_last":
        k = rng.randint(1, 50)
        want = [f"{tx_hash(m, j)}#{i}" for m in reversed(present(0, hi))
                for (j, i, o, _) in reversed(events(m)) if o == contract][:k]
        return get(f"/v1/event?contract={contract}&count={k}", check_events(want), "topk")
    topic = sig(rng.randrange(5))
    ev_range = {
        "events_topic": (f"contract={contract}&topic0={topic}",
                         lambda n, j, o, t: o == contract and len(t) > 0 and t[0] == topic),
        "events_contract": (f"contract={contract}", lambda n, j, o, t: o == contract),
    }
    for key, (params, pred) in ev_range.items():
        if arm == key + "_number":
            return get(f"/v1/event?{params}&fromBlock={a}&toBlock={b}", check_events(_evs(a, b, pred)), "range")
        if arm == key + "_time":
            return get(f"/v1/event?{params}&fromTime={ta}&toTime={tb}", check_events(_evs(a, b, pred)), "range")
    if arm == "gql_block":
        def verify(d):
            _expect(d and d.get("hash") == block_hash(n), f"graphql block {n}")
        if is_gap(n):
            n = n + 1
        return (arm, "graphql", "POST", "/v1/graphql",
                {"query": f'{{ blockByNumber(number: "{n}") {{ hash number }} }}'},
                check_graphql("blockByNumber", verify))
    if arm == "gql_tx_count":
        def verify(d):
            _expect(d == tx_count(n), f"graphql tx count {d}, want {tx_count(n)}")
        return (arm, "graphql", "POST", "/v1/graphql",
                {"query": f'{{ transactionCountByBlockNumber(number: "{n}") }}'},
                check_graphql("transactionCountByBlockNumber", verify))
    if arm == "gql_tx":
        n = _block_with_txs(rng, lo, hi)
        j = rng.randrange(tx_count(n))

        def verify(d):
            _expect(d and d.get("hash") == tx_hash(n, j) and d.get("blockHash") == block_hash(n),
                    "graphql transaction")
        return (arm, "graphql", "POST", "/v1/graphql",
                {"query": f'{{ transaction(hash: "{tx_hash(n, j)}") {{ hash blockHash }} }}'},
                check_graphql("transaction", verify))
    raise ValueError(arm)


# every /v1/block, /v1/transaction and /v1/event arm, and GraphQL
ALL_ARMS = [
    "block_number", "block_hash", "block_number_txs", "block_hash_txs",
    "blocks_by_number", "blocks_by_time",
    "tx_hash", "tx_nonce",
    "tx_deployer_number", "tx_deployer_time", "tx_between_number", "tx_between_time",
    "tx_from_number", "tx_from_time", "tx_to_number", "tx_to_time",
    "event_hash_index", "event_number_index", "events_block", "events_tx", "events_last",
    "events_topic_number", "events_topic_time", "events_contract_number", "events_contract_time",
    "gql_block", "gql_tx_count", "gql_tx",
]

# the live read mix: everything whose answer does not move as blocks arrive
LIVE_ARMS = [a for a in ALL_ARMS if a != "events_last"]


def schedule(seed, count, lo, hi, arms):
    """`count` requests whose arms run through seed-shuffled rounds of every
    arm, so each run sends the same mix whatever the seed."""
    rng = random.Random(seed)
    order = []
    while len(order) < count:
        rnd = list(arms)
        rng.shuffle(rnd)
        order += rnd
    return [make_request(rng, lo, hi, [arm]) for arm in order[:count]]
