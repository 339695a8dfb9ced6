"""Deterministic benchmark inputs, all derived from one integer seed.

The engine only ever sees what this module writes: RS256 tokens and their
JWKS document, JSON event payloads, and the nine parquet tables the
analytics queries read (same schemas as the engine's synthetic testdata).
The same seed always gives byte-identical inputs.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import random
import zlib

import numpy as np

# --- RS256 keys and tokens ---------------------------------------------------

_SHA256_DIGESTINFO = bytes.fromhex("3031300d060960864801650304020105000420")
_SMALL_PRIMES = [p for p in range(3, 2000) if all(p % q for q in range(2, int(p**0.5) + 1))]


def _b64u(b: bytes) -> str:
    return base64.urlsafe_b64encode(b).rstrip(b"=").decode()


def _is_probable_prime(n: int, rng: random.Random, rounds: int = 24) -> bool:
    if any(n % p == 0 for p in _SMALL_PRIMES):
        return n in _SMALL_PRIMES
    d, s = n - 1, 0
    while d % 2 == 0:
        d //= 2
        s += 1
    for _ in range(rounds):
        x = pow(rng.randrange(2, n - 2), d, n)
        if x in (1, n - 1):
            continue
        for _ in range(s - 1):
            x = pow(x, 2, n)
            if x == n - 1:
                break
        else:
            return False
    return True


def _prime(bits: int, rng: random.Random) -> int:
    while True:
        c = rng.getrandbits(bits) | (1 << (bits - 1)) | (1 << (bits - 2)) | 1
        if _is_probable_prime(c, rng):
            return c


class Signer:
    """A 2048-bit RSA key that signs RS256 JWTs, plus its JWKS document."""

    E = 65537

    def __init__(self, seed: int, kid: str = "bench-k1") -> None:
        rng = random.Random(f"rsa-{seed}")
        while True:
            p, q = _prime(1024, rng), _prime(1024, rng)
            phi = (p - 1) * (q - 1)
            if p != q and phi % self.E:
                break
        self.n = p * q
        self.d = pow(self.E, -1, phi)
        self.kid = kid
        self.k = (self.n.bit_length() + 7) // 8

    def jwks(self) -> dict:
        return {
            "keys": [
                {
                    "kty": "RSA",
                    "kid": self.kid,
                    "n": _b64u(self.n.to_bytes(self.k, "big")),
                    "e": _b64u(self.E.to_bytes(3, "big")),
                }
            ]
        }

    def token(self, claims: dict) -> str:
        h64 = _b64u(json.dumps({"alg": "RS256", "kid": self.kid, "typ": "JWT"}).encode())
        p64 = _b64u(json.dumps(claims, sort_keys=True).encode())
        t = _SHA256_DIGESTINFO + hashlib.sha256(f"{h64}.{p64}".encode()).digest()
        em = b"\x00\x01" + b"\xff" * (self.k - 3 - len(t)) + b"\x00" + t
        sig = pow(int.from_bytes(em, "big"), self.d, self.n).to_bytes(self.k, "big")
        return f"{h64}.{p64}.{_b64u(sig)}"


def write_jwks(signer: Signer, path: str) -> str:
    """Write the JWKS document and return its ``file://`` URL."""
    with open(path, "w") as f:
        json.dump(signer.jwks(), f)
    return "file://" + os.path.abspath(path)


def tenant_tokens(signer: Signer, tenants: list[str]) -> dict[str, str]:
    # exp far in the future: a token expiring mid-run would turn a timing
    # run into a refusal run
    return {t: signer.token({"custom:tenantId": t, "exp": 4_000_000_000}) for t in tenants}


# --- tenant events -----------------------------------------------------------

DEVICES = [f"dev-{i:03d}" for i in range(64)]
EVENTS = ["login", "view", "click", "purchase", "logout", "error"]
REGIONS = ["us-east-1", "us-west-2", "eu-west-1", "ap-south-1"]


def tenant_names(n: int) -> list[str]:
    return [f"tenant-{i:02d}" for i in range(n)]


def shard_of(tenant: str, n_shards: int) -> int:
    """Kinesis-style routing by partition key. crc32, unlike ``hash()``,
    is not salted per process, so the shard layout repeats run to run."""
    return zlib.crc32(tenant.encode()) % n_shards


def event_payload(rng: random.Random, invalid: bool) -> str:
    """One POST body. Invalid ones break the edge contract in one of the
    ways the ingest gate must quarantine: a missing field, a non-string
    field, or a body that is not JSON at all."""
    data = {
        "device": rng.choice(DEVICES),
        "event": rng.choice(EVENTS),
        "region": rng.choice(REGIONS),
    }
    if not invalid:
        return json.dumps({"Data": data})
    kind = rng.randrange(3)
    if kind == 0:
        del data[rng.choice(sorted(data))]
        return json.dumps({"Data": data})
    if kind == 1:
        data["device"] = rng.randrange(1000)
        return json.dumps({"Data": data})
    return '{"Data": {"device": "truncated'


def zipf_weights(n: int, s: float = 1.1) -> list[float]:
    w = [1.0 / (i + 1) ** s for i in range(n)]
    total = sum(w)
    return [x / total for x in w]


# --- analytics tables (engine testdata schemas) ------------------------------

_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column join small customer query order filter big "
    "stream group vector"
).split()


def _ts_us(days_from_epoch: np.ndarray) -> np.ndarray:
    return (days_from_epoch.astype("int64") * 86_400_000_000).astype("datetime64[us]")


def write_corpus_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write region/nation/customer/supplier/orders/lineitem/events/
    documents/embeddings at scale ``sf`` (row counts as the engine's
    testdata: sf0.1 has 600k lineitem rows). Returns rows per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    rows: dict[str, int] = {}

    def put(name: str, cols: dict) -> None:
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    n_ord = int(1_500_000 * sf)
    day0 = (np.datetime64("1995-01-01") - np.datetime64("1970-01-01")).astype(int)
    odays = day0 + rng.integers(0, 2404, n_ord)
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(900.0, 500_000.0, n_ord),
        "o_orderdate": _ts_us(odays),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype="int64"), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    n_li = int(lines.sum())
    qty = rng.integers(1, 51, n_li).astype("float64")
    put("lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_us(odays[l_order] + rng.integers(1, 122, n_li)),
    })
    n_ev = int(1_000_000 * sf)
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, n_ev))
    put("events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_ev),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)
        ],
        "value": money(0.01, 500.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    put("documents", _documents(rng, int(50_000 * sf)))
    put("embeddings", _embeddings(rng, max(500, int(20_000 * sf))))
    return rows


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Random-word documents; every 50th is a near-copy of an earlier one
    (one word appended), so MinHash-LSH has real duplicates to find."""
    texts: list[str] = []
    for i in range(n):
        if i >= 50 and i % 50 == 0:
            extra = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            texts.append(texts[int(rng.integers(0, i))] + " " + extra)
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), k)))
    return {
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": np.array(["en", "de", "es", "fr", "zh"])[rng.integers(0, 5, n)],
        "source": [f"src{j}" for j in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }


def planted_duplicates(n_docs: int) -> list[int]:
    """Doc ids the generator wrote as near-copies of an earlier doc."""
    return [i for i in range(50, n_docs, 50)]


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, labels: int = 10) -> dict:
    import pyarrow as pa

    centers = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, n)
    vecs = centers[label] + rng.normal(0.0, 1.6, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": label.astype("int32"),
    }
