"""Seeded input generation for the graft benchmark.

Everything a run feeds the engine is made here, from the repository's
ledger fixtures and the run's seed, so the same seed always gives
byte-identical files:

* replica ledgers: copy 0 is the pristine fixture set; copy k > 0 has
  `ledger_index` and `close_time` shifted far past every other copy and
  every hash replaced by a per-copy digest, so copies never overlap in
  time, index or hash;
* the api_mix request stream: a closed-loop client's requests, in
  blocks that hold every endpoint once (seeded order); accounts and
  pairs are drawn as often as they occur in the fixtures, and each
  endpoint visits every copy once in every R consecutive blocks;
* the gate_batch order: one seeded permutation of the gate list per rep.
"""

import datetime
import glob
import hashlib
import json
import os
import random

RIPPLE_EPOCH = 946684800
DAY = 86400
# fixtures span ~3.9 years; a 5-year stride plus < 60 days of jitter
# keeps every copy's time window disjoint from every other's
COPY_STRIDE_S = 5 * 365 * DAY
COPY_JITTER_DAYS = 60
# fixture ledger indexes stay below 3e7
INDEX_STRIDE = 40_000_000
INDEX_JITTER = 1_000_000

ENDPOINTS = (
    "exchanges", "account_exchanges", "candles", "candle_store",
    "account_tx", "account_payments", "balance_changes", "ledger",
    "tx", "payments", "balances", "orders")
# endpoints answered from the latest state over every copy: no copy
# window applies, so they have no pristine twin to check against
STATE_ENDPOINTS = ("balances", "orders")
CANDLE_INTERVALS = ("1hour", "1day", "1month")


def compact(obj):
    return json.dumps(obj, separators=(",", ":"))


def load_fixtures(root):
    """Fixture ledgers in file-name order, as parsed JSON objects."""
    files = sorted(glob.glob(os.path.join(root, "src/main/resources/ledgers/*.json")))
    if not files:
        raise FileNotFoundError("no ledger fixtures under src/main/resources/ledgers")
    out = []
    for f in files:
        with open(f, encoding="utf-8") as fh:
            out.append(json.load(fh))
    return out


def copy_hash(copy, h):
    if copy == 0 or not h:
        return h
    return hashlib.sha256(f"{copy}:{h}".encode()).hexdigest().upper()


def copy_shift(rng, copy):
    """(close_time shift s, ledger_index shift) of one copy."""
    if copy == 0:
        return 0, 0
    return (copy * COPY_STRIDE_S + rng.randrange(COPY_JITTER_DAYS) * DAY,
            copy * INDEX_STRIDE + rng.randrange(INDEX_JITTER))


def replicate(ledger, copy, dt, di):
    """One fixture ledger as copy `copy`, shifted by (dt s, di ledgers)."""
    if copy == 0:
        return ledger
    led = dict(ledger)
    for k in ("ledger_index", "seqNum"):
        if k in led:
            led[k] = str(int(led[k]) + di)
    led["close_time"] = int(led["close_time"]) + dt
    if "close_time_human" in led:
        led["close_time_human"] = datetime.datetime.fromtimestamp(
            led["close_time"] + RIPPLE_EPOCH, datetime.timezone.utc
        ).strftime("%Y-%b-%d %H:%M:%S")
    for k in ("hash", "ledger_hash", "parent_hash"):
        if k in led:
            led[k] = copy_hash(copy, led[k])
    txs = []
    for tx in led.get("transactions", []):
        tx = dict(tx)
        tx["hash"] = copy_hash(copy, tx.get("hash", ""))
        txs.append(tx)
    led["transactions"] = txs
    return led


def ledger_window(ledgers):
    """(first, last) unix close time over a list of ledgers."""
    ts = [int(l["close_time"]) + RIPPLE_EPOCH for l in ledgers]
    return min(ts), max(ts)


def write_copy(path, ledgers):
    data = "".join(compact(l) + "\n" for l in ledgers).encode()
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


def make_replicas(fixtures, copies, rng, out_dir):
    """Write copies[i] of the fixture set to out_dir/copy_<id>.jsonl.

    Returns one manifest entry per copy: id, time window, raw bytes,
    ledger and transaction counts, tx hashes and ledger indexes.
    """
    os.makedirs(out_dir, exist_ok=True)
    entries = []
    for c in copies:
        dt, di = copy_shift(rng, c)
        ledgers = [replicate(l, c, dt, di) for l in fixtures]
        nbytes = write_copy(os.path.join(out_dir, f"copy_{c:05d}.jsonl"), ledgers)
        start, end = ledger_window(ledgers)
        entries.append({
            "copy": c, "start": start, "end": end,
            "bytes": nbytes, "ledgers": len(ledgers),
            "txs": sum(len(l.get("transactions", [])) for l in ledgers),
            "ledger_indexes": [int(l["ledger_index"]) for l in ledgers],
            "tx_hashes": [t["hash"] for l in ledgers for t in l.get("transactions", [])],
        })
    return entries


def amount_leg(a):
    """(currency, issuer or None) of an XRPL amount field."""
    if isinstance(a, dict):
        return a.get("currency"), a.get("issuer")
    return "XRP", None


def popularity(fixtures):
    """{account: count} and {currency pair: count} over the fixtures."""
    acc, pairs = {}, {}
    for l in fixtures:
        for tx in l.get("transactions", []):
            for k in ("Account", "Destination"):
                if k in tx:
                    acc[tx[k]] = acc.get(tx[k], 0) + 1
            if "TakerPays" in tx and "TakerGets" in tx:
                p = (amount_leg(tx["TakerGets"]), amount_leg(tx["TakerPays"]))
                if p[0] != p[1]:
                    pairs[p] = pairs.get(p, 0) + 1
    return acc, pairs


def pick(rng, counts):
    """A key drawn with probability proportional to its count."""
    keys = sorted(counts, key=str)
    return rng.choices(keys, weights=[counts[k] for k in keys], k=1)[0]


def leg_json(leg):
    return {"currency": leg[0], "issuer": leg[1]}


def make_requests(rng, copies, accounts, pairs, n):
    """n requests in blocks holding every endpoint once, seeded order.

    Each endpoint takes its copies from its own deck, a seeded
    permutation of all copies dealt one per block, so every R
    consecutive blocks starting at a multiple of R send each windowed
    endpoint to copy 0 once.
    """
    out = []
    decks = {ep: [] for ep in ENDPOINTS if ep not in STATE_ENDPOINTS}
    while len(out) < n:
        block = list(ENDPOINTS)
        rng.shuffle(block)
        for ep in block:
            r = {"ep": ep}
            if ep in STATE_ENDPOINTS:
                r["account"] = pick(rng, accounts)
            else:
                if not decks[ep]:
                    decks[ep] = list(copies)
                    rng.shuffle(decks[ep])
                cp = decks[ep].pop()
                r.update(copy=cp["copy"], start=cp["start"], end=cp["end"])
                if ep in ("exchanges", "candles", "candle_store", "payments"):
                    base, counter = pick(rng, pairs)
                    if ep == "payments":
                        r["currency"] = leg_json(counter)
                    else:
                        r.update(base=leg_json(base), counter=leg_json(counter))
                    if ep in ("candles", "candle_store"):
                        r["interval"] = rng.choice(CANDLE_INTERVALS)
                elif ep == "ledger":
                    r["index"] = rng.choice(cp["ledger_indexes"])
                elif ep == "tx":
                    r["hash"] = rng.choice(cp["tx_hashes"])
                else:
                    r["account"] = pick(rng, accounts)
            out.append(r)
    return out[:n]


def gen_api_mix(root, seed, out, replicas, requests):
    rng = random.Random(seed)
    fixtures = load_fixtures(root)
    copies = make_replicas(fixtures, range(replicas), rng, os.path.join(out, "replicas"))
    accounts, pairs = popularity(fixtures)
    reqs = make_requests(rng, copies, accounts, pairs, requests)
    with open(os.path.join(out, "requests.jsonl"), "w", encoding="utf-8") as fh:
        for r in reqs:
            fh.write(compact(r) + "\n")
    return {"replicas": replicas, "requests": len(reqs),
            "input_bytes": sum(c["bytes"] for c in copies),
            "copies": [{k: c[k] for k in ("copy", "start", "end", "ledgers", "txs")}
                       for c in copies]}


def gen_gate_batch(seed, gates, reps):
    rng = random.Random(seed)
    order = []
    for _ in range(reps):
        g = list(gates)
        rng.shuffle(g)
        order.append(g)
    return {"gates": list(gates), "order": order}


def read_gate_list(path):
    with open(path, encoding="utf-8") as fh:
        return [l.split("#")[0].strip() for l in fh if l.split("#")[0].strip()]
