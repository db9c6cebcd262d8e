"""Tests of the corpus generator: determinism per seed, well-formed
documents, and ground truth that agrees with a replay of the documents.

    python3 -m unittest perfbench/test_gen.py
"""

import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

P = gen.Params(blocks=120, skip_share=0.08)


def replay(docs):
    """Folds the documents in height order the way the correlator does:
    returns (completed tx hashes, pending tx hashes, rows per table)."""
    receipt_tx, data, txs = {}, set(), {}
    completed, prev_hash = [], None
    rows = {"actions": 0, "events": 0, "data": 0, "blocks": 0, "quarantine": 0}
    for h in sorted(docs):
        try:
            b = json.loads(docs[h])
        except ValueError:
            rows["quarantine"] += 1
            continue
        rows["blocks"] += 1
        hdr = b["block"]["header"]
        assert prev_hash is None or hdr["prev_hash"] == prev_hash, f"chain broken at {h}"
        prev_hash = hdr["hash"]
        for s in b["shards"]:
            for t in s["chunk"]["transactions"]:
                th = t["transaction"]["hash"]
                txs[th] = set(t["outcome"]["outcome"]["receipt_ids"])
                for r in txs[th]:
                    receipt_tx[r] = th
            for r in s["chunk"]["receipts"]:
                data.add(r["data"]["data_id"])
                rows["data"] += 1
        for s in b["shards"]:
            for o in s["receipt_execution_outcomes"]:
                rid = o["receipt"]["receipt_id"]
                th = receipt_tx.pop(rid)  # KeyError: a receipt of no known tx
                for d in o["receipt"]["action"]["input_data_ids"]:
                    data.remove(d)  # KeyError: data receipt not yet seen
                rows["actions"] += len(o["receipt"]["action"]["actions"])
                rows["events"] += len(o["execution_outcome"]["outcome"]["logs"])
                txs[th].discard(rid)
                for c in o["execution_outcome"]["outcome"]["receipt_ids"]:
                    txs[th].add(c)
                    receipt_tx[c] = th
                if not txs[th]:
                    completed.append(th)
                    del txs[th]
    return completed, sorted(txs), rows


class GenTest(unittest.TestCase):
    def test_same_seed_same_corpus(self):
        a, ta, _ = gen.generate(7, P)
        b, tb, _ = gen.generate(7, P)
        c, _, _ = gen.generate(8, P)
        self.assertEqual(a, b)
        self.assertEqual(ta, tb)
        self.assertNotEqual(a, c)

    def test_truth_matches_replay(self):
        for seed in (1, 2, 3):
            docs, truth, done = gen.generate(seed, P)
            completed, pending, rows = replay(docs)
            self.assertEqual(sorted(completed), sorted(t["hash"] for t in done))
            self.assertEqual(len(pending), truth["pending"])
            self.assertEqual(truth["completed"] + truth["pending"], truth["txs"])
            for k, v in rows.items():
                self.assertEqual(truth["rows"][k], v, k)
            self.assertEqual(len(truth["heights"]), P.blocks)

    def test_backlog_truth_matches_replay_of_the_backlog(self):
        docs, truth, _ = gen.generate(6, P, backlog=50)
        b = truth["backlog"]
        _, _, rows = replay({h: d for h, d in docs.items() if h <= b["last_height"]})
        self.assertEqual(b["rows"], rows)
        self.assertEqual(b["last_height"], truth["heights"][49])

    def test_corpus_varies_the_traffic_dimensions(self):
        docs, truth, done = gen.generate(5, gen.Params(blocks=300))
        self.assertGreater(truth["rows"]["quarantine"], 0)
        self.assertGreater(truth["pending"], 0)
        spans = [t["last"] - t["height"] for t in done]
        self.assertGreaterEqual(max(spans), 3)  # DAGs span several blocks
        logs = [log for d in docs.values() if d.startswith('{"block":{"author"')
                for s in json.loads(d)["shards"]
                for o in s["receipt_execution_outcomes"]
                for log in o["execution_outcome"]["outcome"]["logs"]]
        self.assertTrue(any(x.startswith("EVENT_JSON:") for x in logs))
        self.assertTrue(any(not x.startswith("EVENT_JSON:") for x in logs))
        hist = gen.account_histories(done)
        top = max(len(v) for v in hist.values())
        self.assertGreater(top, 20 * len(done) / len(hist))  # zipf skew

    def test_lookups_answer_from_the_truth(self):
        _, _, done = gen.generate(3, P)
        by_hash = {t["hash"]: t for t in done}
        for q in gen.lookups(3, done, 400):
            if q["kind"] == "tx_by_hash":
                t = by_hash[q["key"]]
                self.assertEqual(q["expect"], [[t["hash"], t["signer"], t["height"], t["last"]]])
            elif q["kind"] == "account_history":
                self.assertLessEqual(len(q["expect"]), gen.HISTORY_LIMIT)
                self.assertEqual(q["expect"], sorted(q["expect"], reverse=True))
            elif q["kind"] == "block_txs":
                self.assertTrue(q["expect"])

    def test_write_corpus_writes_one_document_per_height(self):
        with tempfile.TemporaryDirectory() as d:
            truth = gen.write_corpus(d, 4, P, n_lookups=10)
            self.assertEqual(os.listdir(os.path.join(d, "staging")), [])
            names = os.listdir(os.path.join(d, "blocks"))
            self.assertEqual(len(names), len(truth["heights"]) + len(truth["corrupt_heights"]))
            self.assertEqual(truth["input_bytes"], sum(
                os.path.getsize(os.path.join(d, "blocks", n)) for n in names))
            with open(os.path.join(d, "lookups.jsonl")) as f:
                self.assertEqual(len(f.readlines()), 10)


if __name__ == "__main__":
    unittest.main()
