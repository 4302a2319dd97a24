"""Seeded dnstap frame pools, encoded independently of the program's codec.

A pool is one byte string of framestream data frames (4-byte big-endian
length, then a dnstap protobuf). Alongside it the builder keeps, per frame,
the rows the program must derive from it: this is the ground truth that the
conservation check compares the sinks against.

Frames of one kind share a fixed layout (every varint in them has a fixed
width), so each kind is filled column by column with numpy and scattered
into the pool; only the ~1% damaged frames are built one at a time.
"""
import hashlib

import numpy as np

IDENTITIES = [b"srv0", b"srv1", b"srv2", b"srv3"]
N_CLIENTS = 1 << 16
N_QNAMES = 1000000
# qtype code -> share of queries
QTYPES = {1: 0.60, 28: 0.25, 65: 0.05, 12: 0.04, 15: 0.02, 16: 0.02, 5: 0.01, 2: 0.01}
# rcode -> share of responses (80% NOERROR)
RCODES = {0: 0.80, 3: 0.15, 2: 0.04, 5: 0.01}
MULTI_QUESTION_SHARE = 0.01
DAMAGED_SHARE = 0.01
DAMAGE_CLASSES = ["not_message", "other_message_type", "empty_payload",
                  "truncated_protobuf", "malformed_dns"]
# ingest_fresh: response delay per identity, microseconds
FRESH_DELAY_US = [1000, 2000, 5000, 10000]
BASE_EPOCH = 1704067200  # 2024-01-01T00:00:00Z

CLIENT_QUERY, CLIENT_RESPONSE = 5, 6


def _varint(v):
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _field(num, wire, payload):
    """One protobuf field; `payload` is an int for varints, bytes otherwise."""
    tag = _varint((num << 3) | wire)
    if wire == 0:
        return tag + _varint(payload)
    if wire == 5:
        return tag + int(payload).to_bytes(4, "little")
    return tag + _varint(len(payload)) + payload


def qname_wire(name_id):
    return b"\x07q%06d\x07example\x03com\x00" % name_id


def dns_message(msg_id, rcode, is_response, questions):
    flags = (0x8000 if is_response else 0) | rcode
    out = bytearray(msg_id.to_bytes(2, "big") + flags.to_bytes(2, "big"))
    out += len(questions).to_bytes(2, "big") + b"\x00" * 6
    for name_id, qtype in questions:
        out += qname_wire(name_id) + qtype.to_bytes(2, "big") + b"\x00\x01"
    return bytes(out)


def dnstap_frame(identity, msg_type, addr, port, t_sec, t_nsec, dns,
                 frame_type=1, resp_time=None):
    """Scalar encoder: the reference layout that the vectorised one mirrors."""
    m = _field(1, 0, msg_type) + _field(2, 0, 1) + _field(3, 0, 1)
    m += _field(4, 2, addr) + _field(6, 0, port)
    m += _field(8, 0, t_sec) + _field(9, 5, t_nsec)
    if msg_type != CLIENT_RESPONSE:
        if dns is not None:
            m += _field(10, 2, dns)
    else:
        m += _field(11, 0, resp_time[0]) + _field(12, 5, resp_time[1])
        if dns is not None:
            m += _field(13, 2, dns)
    return _field(1, 2, identity) + _field(14, 2, m) + _field(15, 0, frame_type)


def _v3(x):
    """Fixed 3-byte varints (2^14 <= x < 2^21) as an (n, 3) array."""
    return np.stack([(x & 0x7F) | 0x80, ((x >> 7) & 0x7F) | 0x80, x >> 14], 1)


def _v5(x):
    """Fixed 5-byte varints (2^28 <= x < 2^35) as an (n, 5) array."""
    return np.stack([((x >> (7 * k)) & 0x7F) | 0x80 for k in range(4)] + [x >> 28], 1)


def _le32(x):
    return np.stack([(x >> (8 * k)) & 0xFF for k in range(4)], 1)


def _be16(x):
    return np.stack([(x >> 8) & 0xFF, x & 0xFF], 1)


def _qname_cols(name_id):
    """Wire-format qnames `q%06d.example.com.` as an (n, 21) array."""
    n = len(name_id)
    out = np.empty((n, 21), np.int64)
    out[:, 0] = 7
    out[:, 1] = ord("q")
    for k in range(6):
        out[:, 2 + k] = 48 + (name_id // 10 ** (5 - k)) % 10
    out[:, 8:21] = np.frombuffer(b"\x07example\x03com\x00", np.uint8)
    return out


def encode_kind(identity, msg_type, addr, port, t_sec, t_nsec, msg_id, rcode,
                questions, resp_sec=None, resp_nsec=None):
    """Vectorised `dnstap_frame` for n frames of one layout, returned as an
    (n, 4 + frame length) uint8 array with the framestream length prefix.
    `questions` is a list of (name_id array, qtype array)."""
    n = len(identity)
    cols = []

    def const(bs):
        cols.append(np.broadcast_to(np.frombuffer(bs, np.uint8).astype(np.int64), (n, len(bs))))

    dns_len = 12 + 25 * len(questions)
    flags = (0x8000 if msg_type == CLIENT_RESPONSE else 0) | np.broadcast_to(rcode, (n,))
    dns = [_be16(np.asarray(msg_id)), _be16(flags),
           _be16(np.full(n, len(questions))), np.zeros((n, 6), np.int64)]
    for name_id, qtype in questions:
        dns += [_qname_cols(name_id), _be16(qtype), _be16(np.ones(n, np.int64))]
    msg_len = 2 + 2 + 2 + 6 + 4 + 6 + 5 + 2 + dns_len
    if msg_type == CLIENT_RESPONSE:
        msg_len += 6 + 5
    frame_len = 6 + 2 + msg_len + 2
    assert msg_len < 128
    const(frame_len.to_bytes(4, "big") + b"\x0a\x04srv")
    cols.append(ord("0") + np.asarray(identity, np.int64)[:, None])
    const(bytes([0x72, msg_len, 0x08, msg_type, 0x10, 0x01, 0x18, 0x01, 0x22, 0x04]))
    cols.append(addr)
    const(b"\x30"); cols.append(_v3(port))
    const(b"\x40"); cols.append(_v5(t_sec))
    const(b"\x4d"); cols.append(_le32(t_nsec))
    if msg_type == CLIENT_RESPONSE:
        const(b"\x58"); cols.append(_v5(resp_sec))
        const(b"\x65"); cols.append(_le32(resp_nsec))
    const(bytes([0x52 if msg_type == CLIENT_QUERY else 0x6A, dns_len]))
    cols += dns
    const(b"\x78\x01")
    out = np.concatenate(cols, 1).astype(np.uint8)
    assert out.shape[1] == 4 + frame_len
    return out


class Pool:
    """Encoded frames plus per-frame ground truth (numpy arrays of length n):
    `query_rows`, `nonok_rows` (non-NOERROR response rows), `is_response`
    and `damage` (-1, or an index into DAMAGE_CLASSES)."""

    def __init__(self, stream, lengths, **truth):
        self.stream = stream
        self.lengths = lengths
        self.ends = np.cumsum(lengths + 4)
        self.__dict__.update(truth)
        self.prefix_query = np.concatenate([[0], np.cumsum(truth["query_rows"])])
        self.prefix_nonok = np.concatenate([[0], np.cumsum(truth["nonok_rows"])])

    @property
    def n(self):
        return len(self.lengths)

    def sha256(self):
        return hashlib.sha256(self.stream).hexdigest()

    def truth_for_range(self, start, count):
        """(query rows, non-NOERROR response rows) of `count` frames sent
        cyclically from frame index `start`."""
        return (_cyclic_sum(self.prefix_query, start, count),
                _cyclic_sum(self.prefix_nonok, start, count))


def _cyclic_sum(prefix, start, count):
    n = len(prefix) - 1
    full, rest = divmod(int(count), n)
    total = full * int(prefix[n])
    end = start + rest
    if end <= n:
        total += int(prefix[end] - prefix[start])
    else:
        total += int(prefix[n] - prefix[start]) + int(prefix[end - n])
    return total


def _choice(rng, table, n):
    keys = np.array(list(table), np.int64)
    return keys[rng.choice(len(keys), n, p=np.array(list(table.values())))]


def _zipf_names(rng, n):
    """Zipf(1.0) ranks over N_QNAMES names, mapped to scattered name ids."""
    cdf = np.cumsum(1.0 / np.arange(1, N_QNAMES + 1))
    rank = np.searchsorted(cdf, rng.random(n) * cdf[-1])
    return (rank * 617 + 12345) % N_QNAMES


def _clients(c):
    addr = np.stack([np.full_like(c, 10), np.zeros_like(c), c >> 8, c & 0xFF], 1)
    port = 16384 + (c * 40503) % 49152
    return addr, port


def _assemble(kinds, order_kind, order_idx, extra):
    """Scatter per-kind encoded arrays into one stream in pool order.
    `extra` maps pool positions to scalar-encoded frame bytes."""
    n = len(order_kind)
    lengths = np.zeros(n, np.int64)
    for k, arr in enumerate(kinds):
        lengths[order_kind == k] = arr.shape[1] - 4
    for pos, b in extra.items():
        lengths[pos] = len(b)
    starts = np.concatenate([[0], np.cumsum(lengths + 4)[:-1]])
    buf = np.zeros(int((lengths + 4).sum()), np.uint8)
    for k, arr in enumerate(kinds):
        pos = np.nonzero(order_kind == k)[0]
        rows = arr[order_idx[pos]]
        buf[starts[pos][:, None] + np.arange(arr.shape[1])] = rows
    for pos, b in extra.items():
        s = starts[pos]
        buf[s:s + 4] = np.frombuffer(len(b).to_bytes(4, "big"), np.uint8)
        buf[s + 4:s + 4 + len(b)] = np.frombuffer(b, np.uint8)
    return buf.tobytes(), lengths


def _damaged(cls, i):
    ident = IDENTITIES[i % 4]
    addr, port = bytes([10, 1, (i >> 8) & 255, i & 255]), 20000 + i % 1000
    dns = dns_message(i & 0xFFFF, 0, False, [(i % N_QNAMES, 1)])
    if cls == "not_message":
        return dnstap_frame(ident, CLIENT_QUERY, addr, port, BASE_EPOCH, 0, dns, frame_type=2)
    if cls == "other_message_type":
        return dnstap_frame(ident, 3, addr, port, BASE_EPOCH, 0, dns)
    if cls == "empty_payload":
        return dnstap_frame(ident, CLIENT_QUERY, addr, port, BASE_EPOCH, 0, None)
    if cls == "truncated_protobuf":
        # cut inside the message field, so its declared length overruns
        return dnstap_frame(ident, CLIENT_QUERY, addr, port, BASE_EPOCH, 0, dns)[:-6]
    # malformed DNS wire: a header announcing one question, then nothing
    bad = (i & 0xFFFF).to_bytes(2, "big") + b"\x00\x00\x00\x01" + b"\x00" * 6
    return dnstap_frame(ident, CLIENT_QUERY, addr, port, BASE_EPOCH, 0, bad)


def build_agg_pool(seed, n_frames):
    """ingest_agg pool: query/response pairs with a small multi-question
    share, ~20% non-NOERROR responses and ~1% damaged frames."""
    rng = np.random.default_rng([seed, 1])
    n_damaged = int(n_frames * DAMAGED_SHARE)
    n_pairs = (n_frames - n_damaged) // 2
    n_damaged = n_frames - 2 * n_pairs
    multi = rng.random(n_pairs) < MULTI_QUESTION_SHARE
    ident = rng.integers(0, 4, n_pairs)
    client = rng.integers(0, N_CLIENTS, n_pairs)
    addr, port = _clients(client)
    names = _zipf_names(rng, 2 * n_pairs).reshape(n_pairs, 2)
    qtypes = _choice(rng, QTYPES, 2 * n_pairs).reshape(n_pairs, 2)
    rcode = _choice(rng, RCODES, n_pairs)
    msg_id = rng.integers(0, 1 << 16, n_pairs)
    t_us = BASE_EPOCH * 10 ** 6 + np.arange(n_pairs) * 8 + (seed % 1000) * 10 ** 6
    rt_us = t_us + 300 + rng.integers(0, 2000, n_pairs)

    kinds, sel = [], []
    for nq in (1, 2):
        s = np.nonzero(multi == (nq == 2))[0]
        qs = [(names[s, k], qtypes[s, k]) for k in range(nq)]
        common = (ident[s], addr[s], port[s], t_us[s] // 10 ** 6, (t_us[s] % 10 ** 6) * 1000,
                  msg_id[s])
        kinds.append(encode_kind(common[0], CLIENT_QUERY, *common[1:], 0, qs))
        kinds.append(encode_kind(common[0], CLIENT_RESPONSE, *common[1:], rcode[s], qs,
                                 rt_us[s] // 10 ** 6, (rt_us[s] % 10 ** 6) * 1000))
        sel.append(s)

    # pool order: pairs in order (query, then its response); damaged frames
    # are dropped in at random positions
    order_kind = np.empty(2 * n_pairs, np.int64)
    order_idx = np.empty(2 * n_pairs, np.int64)
    for j, s in enumerate(sel):
        order_kind[2 * s] = 2 * j
        order_kind[2 * s + 1] = 2 * j + 1
        order_idx[2 * s] = np.arange(len(s))
        order_idx[2 * s + 1] = np.arange(len(s))
    dmg_pos = np.sort(rng.choice(n_frames, n_damaged, replace=False))
    keep = np.ones(n_frames, bool)
    keep[dmg_pos] = False
    full_kind = np.full(n_frames, -1, np.int64)
    full_idx = np.zeros(n_frames, np.int64)
    full_kind[keep] = order_kind
    full_idx[keep] = order_idx
    dmg_cls = rng.integers(0, len(DAMAGE_CLASSES), n_damaged)
    extra = {int(p): _damaged(DAMAGE_CLASSES[c], int(p)) for p, c in zip(dmg_pos, dmg_cls)}
    stream, lengths = _assemble(kinds, full_kind, full_idx, extra)

    nq = np.where(multi, 2, 1)
    pair_q = np.zeros(n_frames, np.int64)
    pair_r = np.zeros(n_frames, np.int64)
    qpos = np.nonzero(keep)[0][0::2]
    rpos = np.nonzero(keep)[0][1::2]
    pair_q[qpos] = nq
    pair_r[rpos] = np.where(rcode != 0, nq, 0)
    damage = np.full(n_frames, -1, np.int64)
    damage[dmg_pos] = dmg_cls
    return Pool(stream, lengths, query_rows=pair_q, nonok_rows=pair_r, damage=damage,
                is_response=np.isin(np.arange(n_frames), rpos))


def build_fresh_pool(seed, n_frames):
    """ingest_fresh pool: single-question pairs whose response follows its
    query by a fixed delay per identity; DNS ids count up per client, so
    match keys stay unique far beyond the matcher's TTL. Frames are in
    event-time order; an odd `n_frames` is rounded up to whole pairs."""
    rng = np.random.default_rng([seed, 2])
    n_pairs = (n_frames + 1) // 2
    ident = rng.integers(0, 4, n_pairs)
    client = rng.integers(0, N_CLIENTS, n_pairs)
    order = np.argsort(client, kind="stable")
    seq = np.empty(n_pairs, np.int64)
    sorted_c = client[order]
    first = np.searchsorted(sorted_c, sorted_c)
    seq[order] = np.arange(n_pairs) - first
    msg_id = seq % (1 << 16)
    addr, port = _clients(client)
    names = _zipf_names(rng, n_pairs)
    qtypes = _choice(rng, QTYPES, n_pairs)
    rcode = _choice(rng, RCODES, n_pairs)
    delay = np.array(FRESH_DELAY_US)[ident]
    # queries 20 us apart in event time; the response lands `delay` later
    t_us = BASE_EPOCH * 10 ** 6 + (seed % 1000) * 10 ** 6 + np.arange(n_pairs) * 20
    rt_us = t_us + delay
    qs = [(names, qtypes)]
    common = (ident, addr, port, t_us // 10 ** 6, (t_us % 10 ** 6) * 1000, msg_id)
    kinds = [encode_kind(common[0], CLIENT_QUERY, *common[1:], 0, qs),
             encode_kind(common[0], CLIENT_RESPONSE, *common[1:], rcode, qs,
                         rt_us // 10 ** 6, (rt_us % 10 ** 6) * 1000)]
    ev_t = np.concatenate([t_us, rt_us])
    ev_kind = np.concatenate([np.zeros(n_pairs, np.int64), np.ones(n_pairs, np.int64)])
    ev_idx = np.concatenate([np.arange(n_pairs), np.arange(n_pairs)])
    o = np.lexsort((ev_kind, ev_t))
    stream, lengths = _assemble(kinds, ev_kind[o], ev_idx[o], {})
    is_resp = ev_kind[o] == 1
    nonok = np.where(is_resp & (rcode[ev_idx[o]] != 0), 1, 0)
    return Pool(stream, lengths, query_rows=np.where(is_resp, 0, 1), nonok_rows=nonok,
                damage=np.full(len(o), -1, np.int64), is_response=is_resp)
