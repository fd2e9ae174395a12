"""Input generators of the benchmark. Everything is a function of a seed.

- `lake`: the tables the query keys read, shaped like the repo's
  testdata (TESTDATA.md, FIXTURES.md) at scale factor `sf` (same schemas, row counts per scale
  factor and value ranges), plus the documents corpus scaled by
  GenScale's documents rule. Generated once
  per checkout from a fixed seed and verified by hash on every run.
- `landing`: the `lake_ingest` landing files, from the run's seed.
- `Crud`: the `api_crud` registry seed rows and request script, from the
  run's seed, with the model the outputs are checked against.
"""
import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LAKE_SEED = 42
US = 1_000_000


def _days(rng, n, start, end):
    """n timestamps at midnight between two dates, as timestamp[us]."""
    d0 = dt.datetime(*start)
    span = (dt.datetime(*end) - d0).days
    days = rng.integers(0, span + 1, n)
    base = int(d0.replace(tzinfo=dt.timezone.utc).timestamp()) * US
    return pa.array(base + days * 86400 * US, pa.timestamp("us"))


def _write(table, path, row_group_size=None):
    pq.write_table(table, path, row_group_size=row_group_size)


def _documents(rng, n):
    vocab = ("spark window merge table column vector stream value data small join filter "
             "big group hash customer sort order slow line part fast row the agg key query "
             "a scan batch").split()
    lens = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(vocab, k)) for k in lens]
    # near-duplicates (an earlier doc plus a marker word) and a few exact copies
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif i > 10 and rng.random() < 0.002:
            texts[i] = texts[int(rng.integers(0, i))]
    langs = rng.choice(["en", "fr", "zh", "de", "es"], n, p=[0.41, 0.15, 0.15, 0.14, 0.15])
    return texts, langs


def lake(out, sf, doc_copies, doc_files=8):
    """Writes the query tables under `out` (one parquet per table; the
    scaled documents corpus as a directory of `doc_files` part files).
    Row counts are the testdata's at sf0.1 times sf / 0.1."""
    rng = np.random.default_rng(LAKE_SEED)
    k = sf / 0.1

    def rows(n):
        return max(1, int(round(n * k)))

    os.makedirs(out, exist_ok=True)
    i32, i64 = pa.int32(), pa.int64()

    _write(pa.table({"r_regionkey": pa.array(range(5), i32),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), i32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
           f"{out}/nation.parquet")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    n = n_cust = rows(15_000)
    _write(pa.table({"c_custkey": pa.array(np.arange(n), i64),
                     "c_name": [f"Customer#{i:09d}" for i in range(n)],
                     "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
                     "c_acctbal": money(-999.99, 9999.99, n),
                     "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                                                 "BUILDING", "FURNITURE"], n)}),
           f"{out}/customer.parquet")
    n = n_supp = rows(1_000)
    _write(pa.table({"s_suppkey": pa.array(np.arange(n), i64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n)],
                     "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
                     "s_acctbal": money(-999.99, 9999.99, n)}),
           f"{out}/supplier.parquet")
    n = n_part = rows(20_000)
    adj = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
    noun = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
    _write(pa.table({"p_partkey": pa.array(np.arange(n), i64),
                     "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adj, n), rng.choice(noun, n))],
                     "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
                     "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL",
                                           "MEDIUM"], n),
                     "p_size": pa.array(rng.integers(1, 51, n), i32),
                     "p_retailprice": np.round(900 + (np.arange(n) % 1000) * 0.1, 2)}),
           f"{out}/part.parquet")
    n = n_ord = rows(150_000)
    _write(pa.table({"o_orderkey": pa.array(np.arange(n), i64),
                     "o_custkey": pa.array(rng.integers(0, n_cust, n), i64),
                     "o_orderstatus": rng.choice(["F", "O", "P"], n),
                     "o_totalprice": money(1000, 500000, n),
                     "o_orderdate": _days(rng, n, (1995, 1, 1), (2001, 8, 1)),
                     "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                    "4-NOT SPECIFIED", "5-LOW"], n)}),
           f"{out}/orders.parquet")
    n = rows(600_000)
    _write(pa.table({"l_orderkey": pa.array(rng.integers(0, n_ord, n), i64),
                     "l_partkey": pa.array(rng.integers(0, n_part, n), i64),
                     "l_suppkey": pa.array(rng.integers(0, n_supp, n), i64),
                     "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
                     "l_quantity": rng.integers(1, 51, n).astype(np.float64),
                     "l_extendedprice": money(900, 105000, n),
                     "l_discount": rng.integers(0, 11, n) / 100.0,
                     "l_tax": rng.integers(0, 9, n) / 100.0,
                     "l_returnflag": rng.choice(["A", "N", "R"], n),
                     "l_linestatus": rng.choice(["O", "F"], n),
                     "l_shipdate": _days(rng, n, (1995, 1, 2), (2001, 11, 4))}),
           f"{out}/lineitem.parquet")
    n = rows(100_000)
    t0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * US
    ts = np.sort(t0 + rng.integers(0, 30 * 86400 * US, n))
    _write(pa.table({"event_id": pa.array(np.arange(n), i64),
                     "ts": pa.array(ts, pa.timestamp("us")),
                     "user_id": pa.array(rng.integers(0, rows(1_500), n), i64),
                     "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], n),
                     "value": np.round(np.minimum(rng.gamma(2.0, 40.0, n), 560.21), 2),
                     "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}),
           f"{out}/events.parquet")

    # documents: the corpus of 5,000 docs per sf0.1, then GenScale's rule for
    # `copies` replicas (doc_id + copy * 10000, text + " v<copy>" for
    # copy > 0, n_chars = length(text)), split into part files
    texts, langs = _documents(rng, rows(5_000))
    ids, txt, lang, src = [], [], [], []
    for c in range(doc_copies):
        for i, t in enumerate(texts):
            ids.append(i + c * 10_000)
            txt.append(t if c == 0 else f"{t} v{c}")
            lang.append(langs[i])
            src.append(f"src{i % 20}")
    docs = pa.table({"doc_id": pa.array(ids, i64), "text": txt, "lang": lang,
                     "source": src, "n_chars": pa.array([len(t) for t in txt], i64)})
    os.makedirs(f"{out}/documents.parquet", exist_ok=True)
    step = -(-len(ids) // doc_files)
    for p in range(doc_files):
        _write(docs.slice(p * step, step), f"{out}/documents.parquet/part-{p:05d}.parquet",
               row_group_size=2_000)


def tree_hash(root):
    """sha256 over the relative paths and bytes of every file under root."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def landing(out, events_path, seed, files, rows_per_file, redeliver_share, dups_per_file):
    """The `lake_ingest` landing files: each holds new events plus
    re-delivered earlier event_ids (recent ones favoured) with a changed
    value, plus a few duplicates within the file. File i gets mtime
    base + i seconds, so the file source takes them in order. Returns
    the file paths, oldest first."""
    rng = np.random.default_rng(seed)
    ev = pq.read_table(events_path)
    n_ev = ev.num_rows
    n_redo = int(round(rows_per_file * redeliver_share))
    n_new = rows_per_file - n_redo
    start = int(rng.integers(n_ev // 10, n_ev - files * n_new))
    os.makedirs(out, exist_ok=True)
    value = ev.column("value").to_numpy()
    paths = []
    for i in range(files):
        lo = start + i * n_new
        new_idx = np.arange(lo, lo + n_new)
        back = np.minimum(rng.exponential(rows_per_file, n_redo).astype(np.int64) + 1, lo)
        redo_idx = lo - back
        dup_idx = rng.choice(new_idx, dups_per_file, replace=False)
        idx = np.concatenate([new_idx, redo_idx, dup_idx])
        vals = value[idx].copy()
        changed = np.arange(len(idx)) >= n_new
        vals[changed] = np.round(vals[changed] + rng.uniform(0.01, 50.0, changed.sum()), 2)
        order = rng.permutation(len(idx))
        t = ev.take(pa.array(idx[order]))
        t = t.set_column(t.schema.get_field_index("value"), "value", pa.array(vals[order]))
        p = os.path.join(out, f"part-{i:04d}.parquet")
        _write(t, p)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
        paths.append(p)
    return paths


class Crud:
    """The `api_crud` registries, request script and model.

    `mix` maps request kinds to counts per block: the script is a run of
    blocks, each a seeded shuffle of exactly those requests, so every
    block has the same composition. Keys are drawn Zipf(`zipf`) over a
    table's live keys, newest first."""

    TABLES = ["source_system", "target_system", "data_asset"]
    REGIONS = ["us-east-1", "us-west-2", "eu-west-1"]
    ZONES = ["raw", "staged", "curated"]
    STATUSES = ["active", "inactive", "deprecated"]
    T0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * US
    # set-up seeds each registry in one create commit of 30 rows (it lands
    # as several files); each further seed commit cost ~0.9 s in every
    # one of the repeated set-ups
    SEED_BATCHES = 1
    ROWS_PER_BATCH = 30

    def __init__(self, seed, mix, zipf):
        self.rng = np.random.default_rng(seed)
        self.block = [k for k, n in mix.items() for _ in range(n)]
        self.pending = []
        self.zipf = zipf
        self.live = {t: {} for t in self.TABLES}
        self.order = {t: [] for t in self.TABLES}   # live ids, oldest first
        self.audit = {}
        self.audit_keys = []
        self.next_id = {t: 1000 * (i + 1) for i, t in enumerate(self.TABLES)}
        self.seed_rows = []
        for b in range(self.SEED_BATCHES):
            for t in self.TABLES:
                for _ in range(self.ROWS_PER_BATCH):
                    f = self._new_entity(t, self.T0)
                    self.seed_rows.append([t, str(b)] + f)

    def _new_entity(self, t, ts):
        i = self.next_id[t]
        self.next_id[t] += 1
        a = str(1000 + int(self.rng.integers(0, 100))) if t == "data_asset" else ""
        b = self.rng.choice(self.ZONES if t == "data_asset" else self.REGIONS)
        f = [str(i), a, f"{t[:3]}-{i}", str(b), str(ts), "active"]
        self.live[t][i] = f
        self.order[t].append(i)
        return f

    @staticmethod
    def canon(t, f):
        i, a, name, b, ts, status = f
        parts = [i, a, name, b, ts, status] if t == "data_asset" else [i, name, b, ts, status]
        return "|".join(parts)

    @staticmethod
    def audit_canon(req, method, fields):
        fn, qs, payload, call, status = fields
        return "|".join([req, method, fn, payload, status])

    def _pick(self, n):
        """A Zipf rank in [0, n): rank 0 is the newest key."""
        w = 1.0 / np.arange(1, n + 1) ** self.zipf
        return int(np.searchsorted(np.cumsum(w) / w.sum(), self.rng.random()))

    def _key(self, t):
        ids = self.order[t]
        return ids[len(ids) - 1 - self._pick(len(ids))]

    def next_op(self, step):
        if not self.pending:
            self.pending = [self.block[i] for i in self.rng.permutation(len(self.block))]
            if not self.audit_keys:
                # the script opens with a create, so every lookup and status
                # request finds an audit event
                self.pending.remove("create")
                self.pending.append("create")
        kind = self.pending.pop()
        t = self.TABLES[int(self.rng.integers(0, 3))]
        ts = self.T0 + (step + 1) * US
        if kind == "delete" and len(self.order[t]) < 2:
            kind = "create"
        if kind == "read":
            i = self._key(t)
            return ["R", t, str(i), self.canon(t, self.live[t][i])]
        if kind == "lookup":
            req, method = self.audit_keys[len(self.audit_keys) - 1 - self._pick(len(self.audit_keys))]
            return ["L", req, method, self.audit_canon(req, method, self.audit[(req, method)])]
        if kind == "create":
            f = self._new_entity(t, ts)
            req, method = f"req-{step:06d}", f"/{t}/create"
            payload = json.dumps({"id": int(f[0])}, separators=(",", ":"))
            self.audit[(req, method)] = [f"{t}-api", json.dumps({"tasktype": method},
                                                                 separators=(",", ":")),
                                         payload, "synchronous", "success"]
            self.audit_keys.append((req, method))
            return ["C", t] + f + [req, method, payload]
        if kind == "update":
            i = self._key(t)
            f = self.live[t][i]
            f[2], f[4] = f"{t[:3]}-{i}-u{step}", str(ts)
            f[5] = str(self.rng.choice(self.STATUSES))
            return ["U", t, str(i), f[2], f[4], f[5]]
        if kind == "status":
            req, method = self.audit_keys[len(self.audit_keys) - 1 - self._pick(len(self.audit_keys))]
            st = str(self.rng.choice(["success", "failed", "retried"]))
            self.audit[(req, method)][4] = st
            return ["S", req, method, st]
        i = self._key(t)
        del self.live[t][i]
        self.order[t].remove(i)
        return ["D", t, str(i)]

    def script(self, n):
        return [self.next_op(s) for s in range(n)]

    def entity_rows(self, t):
        """The model's rows of a registry, as the dump renders them."""
        return sorted(self.canon(t, f) for f in self.live[t].values())

    def audit_rows(self):
        return sorted("|".join([req, method] + f) for (req, method), f in self.audit.items())
