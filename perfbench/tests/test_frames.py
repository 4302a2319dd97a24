"""Tests of the load generator's frame pools: determinism, the encoding
against the scalar reference encoder, and the ground truth it reports.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "lib"))
import frames  # noqa: E402
import gen  # noqa: E402


def split(stream):
    """Framestream data frames back into payloads."""
    out, pos = [], 0
    while pos < len(stream):
        n = int.from_bytes(stream[pos:pos + 4], "big")
        out.append(stream[pos + 4:pos + 4 + n])
        pos += 4 + n
    return out


def parse(buf):
    """Minimal protobuf reader: {field: [values]} (bytes or ints)."""
    out, pos = {}, 0
    while pos < len(buf):
        key, pos = varint(buf, pos)
        field, wire = key >> 3, key & 7
        if wire == 0:
            v, pos = varint(buf, pos)
        elif wire == 5:
            v, pos = int.from_bytes(buf[pos:pos + 4], "little"), pos + 4
        elif wire == 2:
            n, pos = varint(buf, pos)
            if pos + n > len(buf):
                raise ValueError("truncated")
            v, pos = buf[pos:pos + n], pos + n
        else:
            raise ValueError(f"wire type {wire}")
        out.setdefault(field, []).append(v)
    return out


def varint(buf, pos):
    v = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        v |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            return v, pos


def rows_of(payload):
    """(query rows, non-NOERROR response rows) a correct pipeline derives
    from one frame, decoded independently of the generator's bookkeeping."""
    try:
        f = parse(payload)
        m = parse(f[14][0])
    except (ValueError, KeyError, IndexError):
        return 0, 0
    if f.get(15, [0])[0] != 1:
        return 0, 0
    mtype = m[1][0]
    dns = m.get(10 if mtype == frames.CLIENT_QUERY else 13, [None])[0]
    if mtype not in (frames.CLIENT_QUERY, frames.CLIENT_RESPONSE) or not dns:
        return 0, 0
    qd = int.from_bytes(dns[4:6], "big")
    if len(dns) < 12 + 25 * qd:
        return 0, 0
    rcode = dns[3] & 0xF
    return (qd, 0) if mtype == frames.CLIENT_QUERY else (0, qd if rcode else 0)


class Determinism(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        a = frames.build_agg_pool(11, 20000)
        b = frames.build_agg_pool(11, 20000)
        self.assertEqual(a.sha256(), b.sha256())
        self.assertTrue(np.array_equal(a.query_rows, b.query_rows))
        f1 = frames.build_fresh_pool(11, 20000)
        self.assertEqual(f1.sha256(), frames.build_fresh_pool(11, 20000).sha256())

    def test_other_seed_other_bytes(self):
        self.assertNotEqual(frames.build_agg_pool(11, 20000).sha256(),
                            frames.build_agg_pool(12, 20000).sha256())


class Encoding(unittest.TestCase):
    def test_vectorised_matches_scalar_encoder(self):
        addr = np.array([[10, 0, 1, 2], [10, 0, 255, 7]])
        port = np.array([16389, 65535])
        for mtype, extra in ((frames.CLIENT_QUERY, {}),
                             (frames.CLIENT_RESPONSE, {"resp_sec": np.array([1704067201] * 2),
                                                       "resp_nsec": np.array([5000, 999999000])})):
            for nq in (1, 2):
                qs = [(np.array([42 + k, 999999]), np.array([28, 1])) for k in range(nq)]
                v = frames.encode_kind(np.array([2, 3]), mtype, addr, port,
                                       np.array([1704067200, 1704067300]),
                                       np.array([123000, 0]), np.array([77, 65535]),
                                       3 if extra else 0, qs, **extra)
                for i in range(2):
                    rt = (int(extra["resp_sec"][i]), int(extra["resp_nsec"][i])) if extra else None
                    dns = frames.dns_message(int([77, 65535][i]),
                                             3 if mtype == frames.CLIENT_RESPONSE else 0,
                                             mtype == frames.CLIENT_RESPONSE,
                                             [(int(q[0][i]), int(q[1][i])) for q in qs])
                    want = frames.dnstap_frame(b"srv%d" % [2, 3][i], mtype,
                                               bytes(addr[i].tolist()), int(port[i]),
                                               [1704067200, 1704067300][i], [123000, 0][i], dns,
                                               resp_time=rt)
                    got = v[i].tobytes()
                    self.assertEqual(int.from_bytes(got[:4], "big"), len(want))
                    self.assertEqual(got[4:], want)


class GroundTruth(unittest.TestCase):
    def test_truth_matches_an_independent_decode(self):
        pool = frames.build_agg_pool(5, 30000)
        payloads = split(pool.stream)
        self.assertEqual(len(payloads), pool.n)
        decoded = np.array([rows_of(p) for p in payloads])
        self.assertTrue(np.array_equal(decoded[:, 0], pool.query_rows))
        self.assertTrue(np.array_equal(decoded[:, 1], pool.nonok_rows))
        damaged = pool.damage >= 0
        self.assertTrue(np.all(decoded[damaged].sum(1) == 0))
        # every damage class is present, and about 1% of frames are damaged
        self.assertEqual(set(pool.damage[damaged].tolist()), set(range(5)))
        self.assertAlmostEqual(damaged.mean(), frames.DAMAGED_SHARE, delta=0.002)
        # a decoder that ignored the damage would disagree with the truth
        self.assertGreater(damaged.sum(), 0)

    def test_response_shares(self):
        pool = frames.build_agg_pool(5, 100000)
        resp = pool.is_response
        nonok = (pool.nonok_rows[resp] > 0).mean()
        self.assertAlmostEqual(nonok, 0.20, delta=0.01)
        self.assertGreater((pool.query_rows == 2).sum(), 0)  # multi-question share

    def test_cyclic_truth(self):
        pool = frames.build_agg_pool(5, 1000)
        q = pool.query_rows
        for start, count in ((0, 1000), (10, 20), (990, 30), (500, 2500)):
            idx = (start + np.arange(count)) % pool.n
            self.assertEqual(pool.truth_for_range(start, count)[0], int(q[idx].sum()))
        wrong = int(q[990:].sum())  # ignoring the wrap-around
        self.assertNotEqual(pool.truth_for_range(990, 30)[0], wrong)

    def test_fresh_keys_are_unique_and_delays_fixed(self):
        pool = frames.build_fresh_pool(9, 40000)
        payloads = split(pool.stream)
        keys, times = set(), {}
        for p in payloads:
            f = parse(p)
            m = parse(f[14][0])
            dns = m[10 if m[1][0] == frames.CLIENT_QUERY else 13][0]
            key = (f[1][0], m[4][0], m[6][0], dns[:2])
            if m[1][0] == frames.CLIENT_QUERY:
                self.assertNotIn(key, keys)
                keys.add(key)
                times[key] = (f[1][0], m[8][0] * 10 ** 6 + m[9][0] // 1000)
            else:
                ident, tq = times[key]
                tr = m[11][0] * 10 ** 6 + m[12][0] // 1000
                self.assertEqual(tr - tq, frames.FRESH_DELAY_US[int(ident[-1:])])


class Cursor(unittest.TestCase):
    def test_frames_done_and_quota(self):
        pool = frames.build_agg_pool(3, 500)
        cur = gen.Cursor(pool, 100)
        quota = cur.abs0 + cur.byte_len(700)  # wraps around the pool
        while cur.abs < quota:
            cur.advance(len(cur.chunk(min(997, quota - cur.abs))))
        self.assertEqual(cur.frames_done(), 700)
        self.assertEqual(len(cur.to_frame_end()), 0)

    def test_partial_frame_is_completed(self):
        pool = frames.build_agg_pool(3, 500)
        cur = gen.Cursor(pool, 0)
        cur.advance(10)
        self.assertEqual(cur.frames_done(), 0)
        cur.advance(len(cur.to_frame_end()))
        self.assertEqual(cur.frames_done(), 1)


if __name__ == "__main__":
    unittest.main()
