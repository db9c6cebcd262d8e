"""Seeded NEAR block-corpus generator for the benchmark.

Writes one `<height>.json` `BlockWithTxHashes` document per block (the
layout the native `graft-blocks` source reads with `fetcher=dir`) and
the ground truth the benchmark checks the indexer's tables against.

The corpus varies the traffic dimensions the daemon's behaviour depends
on: transactions per block, receipt-DAG depth and the number of blocks
a DAG spans (which sets the correlator's pending state), zipf-skewed
accounts, logs per receipt with a share of `EVENT_JSON` events,
FunctionCall argument size, skipped heights, and a small share of
corrupt documents (written at skipped heights, so the block chain stays
intact and the quarantine path sees them).

The ground truth is computed here, independently of the program, from
the correlator's contract: a transaction completes in the block where
its last pending receipt executes; its account set is the signer, every
executed receipt's receiver, the account-typed FunctionCall arguments
and the account fields of well-formed `EVENT_JSON` logs.

The traffic parameters (`Params`) are chosen, not fitted: no mainnet
sample backs them. Transactions per block are in the tens, as an
indexer sees on a busy chain, rather than the fixtures' 1-3.

`perfbench/run.py` imports this module and calls `write_corpus`.
"""

import base64
import dataclasses
import json
import os
import random
import re

B58 = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"

# the account fields the fan-out probes (TxFanout.potentialAccountArgs /
# potentialEventsArgs); only the ones the generator emits are listed
ARG_ACCOUNT_FIELDS = ("receiver_id", "owner_id", "account_id")
ACCOUNT_RE = re.compile(
    r"^([a-z0-9]+([\-_][a-z0-9]+)*\.)*[a-z0-9]+([\-_][a-z0-9]+)*$")
INVALID_ACCOUNTS = ("Not An Account", "x", "UPPER.near")
HISTORY_LIMIT = 25


def valid_account(a):
    return isinstance(a, str) and 2 <= len(a) <= 64 and bool(ACCOUNT_RE.match(a))


@dataclasses.dataclass
class Params:
    blocks: int = 200
    txs_per_block: float = 20.0    # mean; uniform on [mean / 2, 3 * mean / 2]
    max_depth: int = 3             # receipt levels below the root
    child_p: float = 0.45          # chance of each of two children per level
    max_span: int = 3              # blocks between a receipt and its child
    callback_share: float = 0.25   # children that wait on a data receipt
    accounts: int = 2000
    zipf_s: float = 1.1
    logs_per_receipt: float = 1.0  # mean; uniform on [0, 2 * mean]
    event_share: float = 0.6       # logs that are EVENT_JSON
    args_bytes: int = 96           # mean FunctionCall memo size
    shards: int = 4
    skip_share: float = 0.03       # heights with no block
    corrupt_share: float = 0.3     # skipped heights that hold a corrupt doc


class Zipf:
    """Zipf(s) over ranks 0..n-1 by inverse-CDF lookup."""

    def __init__(self, n, s):
        w = [1.0 / (k + 1) ** s for k in range(n)]
        tot = sum(w)
        acc, self.cdf = 0.0, []
        for x in w:
            acc += x / tot
            self.cdf.append(acc)

    def draw(self, rng):
        u = rng.random()
        lo, hi = 0, len(self.cdf) - 1
        while lo < hi:
            mid = (lo + hi) // 2
            if self.cdf[mid] < u:
                lo = mid + 1
            else:
                hi = mid
        return lo


def b64(s):
    return base64.b64encode(s.encode()).decode()


class Gen:
    def __init__(self, seed, p):
        self.rng = random.Random(seed)
        self.p = p
        self.zipf = Zipf(p.accounts, p.zipf_s)
        # rank -> name; a permutation so popularity is not the name order
        names = [f"user{i}.near" if i % 5 else f"app-{i}.near"
                 for i in range(p.accounts)]
        self.rng.shuffle(names)
        self.names = names

    def hash(self):
        return "".join(self.rng.choices(B58, k=44))

    def account(self):
        return self.names[self.zipf.draw(self.rng)]

    def shard_of(self, account):
        return sum(account.encode()) % self.p.shards

    # ------------------------------------------------------------ actions
    def function_call(self, method, receiver_hint):
        r = self.rng
        args = {"receiver_id": receiver_hint, "amount": str(r.randrange(1, 10**9))}
        if r.random() < 0.3:
            args["owner_id"] = self.account()
        if r.random() < 0.05:
            args["account_id"] = r.choice(INVALID_ACCOUNTS)
        args["memo"] = "m" * r.randrange(0, 2 * self.p.args_bytes + 1)
        action = {"kind": "FUNCTION_CALL", "method_name": method,
                  "args": b64(json.dumps(args, separators=(",", ":"))),
                  "gas": 30000000000000, "deposit": "1"}
        accts = {v for k, v in args.items()
                 if k in ARG_ACCOUNT_FIELDS and valid_account(v)}
        return action, accts

    def actions(self, method):
        if self.rng.random() < 0.2:
            return [{"kind": "TRANSFER",
                     "deposit": str(self.rng.randrange(1, 10**24))}], set()
        a, accts = self.function_call(method, self.account())
        return [a], accts

    # --------------------------------------------------------------- logs
    def logs(self):
        r, out, accts = self.rng, [], set()
        for _ in range(r.randrange(0, int(2 * self.p.logs_per_receipt) + 1)):
            if r.random() >= self.p.event_share:
                out.append(f"Transfer {r.randrange(10**6)} to {self.account()}")
                continue
            kind = r.random()
            if kind < 0.6:
                old, new = self.account(), self.account()
                ev = {"standard": "nep141", "version": "1.0.0",
                      "event": "ft_transfer",
                      "data": [{"old_owner_id": old, "new_owner_id": new,
                                "amount": str(r.randrange(1, 10**9))}]}
                accts |= {old, new}
            elif kind < 0.9:
                owner = self.account()
                ev = {"standard": "nep171", "version": "1.0.0",
                      "event": "nft_mint",
                      "data": [{"owner_id": owner,
                                "token_ids": [str(r.randrange(10**6))]}]}
                accts.add(owner)
            elif kind < 0.95:
                # no version: well-formed JSON the fan-out must ignore
                ev = {"standard": "nep141", "event": "ft_burn",
                      "data": [{"owner_id": self.account()}]}
            else:
                out.append('EVENT_JSON:{"standard":"nep141","data":[')
                continue
            out.append("EVENT_JSON:" + json.dumps(ev, separators=(",", ":")))
        return out, accts


def status_value():
    return {"success_value": b64('"1"')}


def outcome(rid, block_hash, receipt_ids, status, logs, executor):
    return {"id": rid, "block_hash": block_hash,
            "outcome": {"receipt_ids": receipt_ids, "status": status,
                        "gas_burnt": 2428000000000, "tokens_burnt": "242800000000000000000",
                        "logs": logs, "executor_id": executor}}


def generate(seed, p, backlog=None):
    """Returns (docs, truth, completed txs); docs maps height -> document
    text. With `backlog`, the truth also holds the actions-mode rows,
    the quarantine count and the last height of the first `backlog`
    blocks."""
    g = Gen(seed, p)
    r = g.rng

    # heights: real blocks with occasional skipped heights; some skipped
    # heights hold a corrupt document
    heights, corrupt, h = [], [], 1
    while len(heights) < p.blocks:
        if heights and r.random() < p.skip_share:
            if r.random() < p.corrupt_share:
                corrupt.append(h)
            h += 1
            continue
        heights.append(h)
        h += 1
    hashes = [g.hash() for _ in heights]

    n = len(heights)
    chunk_txs = [[[] for _ in range(p.shards)] for _ in range(n)]
    chunk_receipts = [[[] for _ in range(p.shards)] for _ in range(n)]
    outcomes = [[[] for _ in range(p.shards)] for _ in range(n)]
    txs = []  # per-tx truth

    rows = {"actions": 0, "events": 0, "data": 0}
    # actions-mode rows per block index: actions, events, data
    at_block = [[0, 0, 0] for _ in range(n)]

    for i in range(n):
        for _ in range(r.randrange(int(p.txs_per_block / 2), int(1.5 * p.txs_per_block) + 1)):
            signer = g.account()
            tx_hash = g.hash()
            t = {"hash": tx_hash, "signer": signer, "height": heights[i],
                 "exec": [], "receipts": [], "data_receipts": [],
                 "accounts": {signer}, "complete": True}
            root, root_recv = g.hash(), g.account()
            # the root executes in the inclusion block or the next one
            plan = [(root, i + r.randrange(0, 2), 0, None, root_recv, None)]
            root_actions, root_accts = g.actions("call")
            first = True
            while plan:
                rid, at, level, pred, receiver, data_id = plan.pop()
                if at >= n:  # beyond the corpus: the tx stays pending
                    t["complete"] = False
                    continue
                receiver = receiver or g.account()
                if first:
                    acts, accts = root_actions, root_accts
                    first = False
                elif data_id is not None:
                    a, accts = g.function_call("on_callback", g.account())
                    acts = [a]
                else:
                    acts, accts = g.actions("call")
                children = []
                if level < p.max_depth:
                    children = [g.hash() for _ in range(2) if r.random() < p.child_p]
                logs, ev_accts = g.logs()
                status = ({"success_receipt_id": children[0]} if children
                          else ({"failure": '{"ActionError":{"index":0}}'}
                                if r.random() < 0.03 else status_value()))
                input_ids = [data_id] if data_id else []
                receipt = {"predecessor_id": pred or signer, "receiver_id": receiver,
                           "receipt_id": rid,
                           "action": {"signer_id": signer,
                                      "signer_public_key": "ed25519:" + signer,
                                      "input_data_ids": input_ids, "actions": acts,
                                      "gas_price": "100000000",
                                      "is_promise_yield": False}}
                shard = g.shard_of(receiver)
                if data_id:
                    dr_id = g.hash()
                    chunk_receipts[at][shard].append(
                        {"predecessor_id": pred, "receiver_id": receiver,
                         "receipt_id": dr_id,
                         "data": {"data_id": data_id, "data": b64('"ok"'),
                                  "is_promise_resume": False}})
                    t["data_receipts"].append(dr_id)
                    rows["data"] += 1
                    at_block[at][2] += 1
                outcomes[at][shard].append(
                    {"tx_hash": tx_hash, "receipt": receipt,
                     "execution_outcome": outcome(rid, hashes[at], children, status,
                                                  logs, receiver)})
                rows["actions"] += len(acts)
                rows["events"] += len(logs)
                at_block[at][0] += len(acts)
                at_block[at][1] += len(logs)
                t["exec"].append(heights[at])
                t["receipts"].append(rid)
                t["accounts"] |= {receiver} | accts | ev_accts
                for c in children:
                    cb = g.hash() if r.random() < p.callback_share else None
                    plan.append((c, at + r.randrange(1, p.max_span + 1), level + 1,
                                 receiver, None, cb))
            tx = {"hash": tx_hash, "signer_id": signer, "public_key": "ed25519:" + signer,
                  "nonce": r.randrange(1, 10**9), "receiver_id": root_recv,
                  "actions": root_actions, "signature": "ed25519:" + g.hash()}
            chunk_txs[i][g.shard_of(signer)].append(
                {"transaction": tx,
                 "outcome": outcome(tx_hash, hashes[i], [root],
                                    {"success_receipt_id": root}, [], signer)})
            txs.append(t)

    docs = {}
    for i in range(n):
        hdr = {"height": heights[i], "hash": hashes[i],
               "prev_hash": hashes[i - 1] if i else "11111111111111111111111111111111",
               "prev_height": heights[i - 1] if i else None,
               "timestamp_nanosec": 1700000000000000000 + heights[i] * 1200000000,
               "epoch_id": f"epoch{heights[i] // 500}", "chunks_included": p.shards,
               "signature": "ed25519:" + hashes[i], "latest_protocol_version": 73}
        shards = [{"shard_id": s,
                   "chunk": {"shard_id": s, "transactions": chunk_txs[i][s],
                             "receipts": chunk_receipts[i][s]},
                   "receipt_execution_outcomes": outcomes[i][s]}
                  for s in range(p.shards)]
        docs[heights[i]] = json.dumps(
            {"block": {"author": f"validator{heights[i] % 7}.near", "header": hdr},
             "shards": shards}, separators=(",", ":"))
    for c in corrupt:
        docs[c] = '{"block":{"header":{"height":%d,"hash":"' % c

    completed = [t for t in txs if t["complete"]]
    for t in completed:
        t["last"] = max(t["exec"])
        t["blocks"] = sorted({t["height"], *t["exec"]})
    rows.update({
        "blocks": n,
        "transactions": len(completed),
        "account_txs": sum(len(t["accounts"]) for t in completed),
        "receipt_txs": sum(len(t["receipts"]) + len(t["data_receipts"]) for t in completed),
        "block_txs": sum(len(t["blocks"]) for t in completed),
        "quarantine": len(corrupt),
    })
    truth = {"seed": seed, "params": dataclasses.asdict(p),
             "heights": heights, "corrupt_heights": corrupt,
             "txs": len(txs), "completed": len(completed),
             "pending": len(txs) - len(completed), "rows": rows}
    if backlog:
        last = heights[backlog - 1]
        truth["backlog"] = {
            "last_height": last,
            "rows": {"actions": sum(a for a, _, _ in at_block[:backlog]),
                     "events": sum(e for _, e, _ in at_block[:backlog]),
                     "data": sum(d for _, _, d in at_block[:backlog]),
                     "blocks": backlog,
                     "quarantine": sum(1 for c in corrupt if c < last)}}
    return docs, truth, completed


def account_histories(completed):
    """account -> newest-first [(tx_block_height, transaction_hash)]."""
    hist = {}
    for t in completed:
        for a in t["accounts"]:
            hist.setdefault(a, []).append((t["height"], t["hash"]))
    for v in hist.values():
        v.sort(reverse=True)
    return hist


# the lookup mix, as a fixed cycle so every run holds the same shares:
# tx_by_hash 40 %, account_history 30 %, receipt_to_tx 20 %, block_txs 10 %
LOOKUP_CYCLE = ("tx_by_hash", "account_history", "receipt_to_tx", "tx_by_hash",
                "account_history", "block_txs", "tx_by_hash", "receipt_to_tx",
                "account_history", "tx_by_hash")


def lookups(seed, completed, count):
    """The explorer's seeded lookup mix with the expected answers."""
    r = random.Random(seed * 7919 + 1)
    hist = account_histories(completed)
    by_block = {}
    for t in completed:
        for b in t["blocks"]:
            by_block.setdefault(b, []).append(t["hash"])
    # accounts by activity, so the zipf draw hits the busy ones most
    accounts = sorted(hist, key=lambda a: (-len(hist[a]), a))
    zipf = Zipf(len(accounts), 1.1)
    blocks = sorted(by_block)
    out = []
    for i in range(count):
        kind = LOOKUP_CYCLE[i % len(LOOKUP_CYCLE)]
        if kind == "tx_by_hash":
            t = r.choice(completed)
            out.append({"kind": kind, "key": t["hash"],
                        "expect": [[t["hash"], t["signer"], t["height"], t["last"]]]})
        elif kind == "receipt_to_tx":
            t = r.choice(completed)
            rid = r.choice(t["receipts"] + t["data_receipts"])
            out.append({"kind": kind, "key": rid,
                        "expect": [[t["hash"], t["signer"], t["height"]]]})
        elif kind == "account_history":
            a = accounts[zipf.draw(r)]
            out.append({"kind": kind, "key": a,
                        "expect": [[h, x] for h, x in hist[a][:HISTORY_LIMIT]]})
        else:
            b = r.choice(blocks)
            out.append({"kind": kind, "key": str(b),
                        "expect": [[x] for x in sorted(by_block[b])]})
    return out


def write_corpus(out_dir, seed, p, n_lookups=0, backlog=None):
    """Generates and writes the corpus; returns the truth dict. Documents
    go to `blocks/`; with `backlog`, those after the first `backlog`
    blocks go to `staging/`, for a writer to append later."""
    docs, truth, completed = generate(seed, p, backlog)
    last = truth["backlog"]["last_height"] if backlog else max(docs)
    for d in ("blocks", "staging"):
        os.makedirs(os.path.join(out_dir, d), exist_ok=True)
    size = backlog_size = 0
    for h, doc in docs.items():
        data = doc.encode()
        size += len(data)
        if h <= last:
            backlog_size += len(data)
        with open(os.path.join(out_dir, "blocks" if h <= last else "staging", f"{h}.json"),
                  "wb") as f:
            f.write(data)
    truth["input_bytes"] = size
    if backlog:
        truth["backlog"]["input_bytes"] = backlog_size
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f)
    if n_lookups:
        with open(os.path.join(out_dir, "lookups.jsonl"), "w") as f:
            for q in lookups(seed, completed, n_lookups):
                f.write(json.dumps(q, separators=(",", ":")) + "\n")
    return truth

