"""The three benchmark workloads: inputs, config, and output checks.

A workload generates its inputs once per benchmark run (from the seed),
then is reset before and checked after every `graft.Main` invocation.
`check` returns (name, ok, detail) triples; each one counts as attempted,
and a false one as failed.
"""
import csv
import glob
import io
import json
import os
import shutil
import subprocess
import sys
import urllib.request
import zipfile

import eventlog
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
csv.field_size_limit(1 << 30)


def read_json_array(path):
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def read_csv(path):
    with open(path, encoding="utf-8", newline="") as f:
        return list(csv.DictReader(f))


def rows_of(records, cols):
    """Canonical string tuples of `cols`; JSON numbers and CSV cells
    compare equal through str()."""
    return [tuple("" if r.get(c) is None else str(r.get(c)) for c in cols)
            for r in records]


def expect_rows(name, records, cols, want):
    """Row-count and fingerprint checks of one output."""
    fp = gen.fingerprint(rows_of(records, cols))
    return [(f"{name} rows", len(records) == want["rows"],
             f"{len(records)} != {want['rows']}"),
            (f"{name} fingerprint", fp == want["fp"], f"{fp} != {want['fp']}")]


def dir_size(path):
    """Bytes and data files under `path` (checksum and marker files
    excluded)."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith(".") or n.startswith("_"):
                continue
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


class Workload:
    config = None          # file under perfbench/configs
    pipelines = ()         # pipelines that must succeed, in order
    planned_calls = 0      # HTTP calls the inputs plan for

    def __init__(self, seed, rng, work, env):
        self.seed = seed
        self.rng = rng
        self.work = work
        self.out = os.path.join(work, "out")
        self.env = dict(env, BENCH_OUT=self.out, BENCH_INPUT=os.path.join(work, "input"))
        os.makedirs(self.env["BENCH_INPUT"])
        self.stamp = {}
        self.input_records = 0
        self.input_bytes = 0

    def config_path(self):
        return os.path.join(HERE, "configs", self.config)

    def reset(self):
        shutil.rmtree(self.out, ignore_errors=True)

    def http_log(self):
        return None

    def close(self):
        pass

    def output_size(self):
        return dir_size(self.out)

    def record_expected(self):
        raise SystemExit(f"{type(self).__name__} has no recorded expectations")

    def check(self):
        """Pipeline statuses from sequence_metrics.json, then the
        workload's own output checks."""
        path = os.path.join(self.out, "sequence_metrics.json")
        try:
            with open(path) as f:
                metrics = {p["name"]: p for p in json.load(f)["pipelines"]}
        except (OSError, ValueError, KeyError) as e:
            return [(f"pipeline {p}", False, f"no metrics file: {e}")
                    for p in self.pipelines]
        self.counts = {n: p.get("records_count") for n, p in metrics.items()}
        results = [(f"pipeline {p}", metrics.get(p, {}).get("status") == "succeeded",
                    f"status {metrics.get(p, {}).get('status')}") for p in self.pipelines]
        try:
            results += self.check_outputs()
        except Exception as e:  # a missing or unreadable output is a failure
            results.append(("outputs readable", False, f"{type(e).__name__}: {e}"))
        return results


# ------------------------------------------------------------------ API

class EtlApiSequence(Workload):
    """The paper's own workload against the seeded stub."""
    config = "etl_api_sequence.toml"
    pipelines = ("auth", "posts", "users", "user-todos", "todo-index", "final-export")
    N_POSTS, N_USERS, TODOS_PER_USER = 5000, 2000, (1, 5)

    def prepare(self):
        spec, self.expect, self.stamp = gen.gen_api(
            self.rng, self.N_POSTS, self.N_USERS, self.TODOS_PER_USER)
        self.planned_calls = self.expect["planned_calls"]
        routes = os.path.join(self.work, "routes.json")
        with open(routes, "w") as f:
            json.dump(spec, f)
        self.input_records = self.stamp["input_rows"]
        self.input_bytes = self.stamp["input_bytes"]
        self.stub = subprocess.Popen([sys.executable, os.path.join(HERE, "stub.py"), routes],
                                     stdout=subprocess.PIPE, text=True)
        self.base = f"http://127.0.0.1:{int(self.stub.stdout.readline())}"
        self.env["BENCH_API"] = self.base

    def _get(self, path):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return r.read()

    def reset(self):
        super().reset()
        self._get("/__reset")

    def http_log(self):
        return self.last_log

    def close(self):
        if getattr(self, "stub", None):
            self.stub.terminate()
            self.stub.wait()

    def check_outputs(self):
        e, o = self.expect, self.out
        self.last_log = json.loads(self._get("/__log"))
        res = []
        posts_cols = ("post_id", "post_title", "post_content", "author_id")
        res += expect_rows("posts.csv", read_csv(f"{o}/posts.csv"), posts_cols, e["posts"])
        res += expect_rows("users.json", read_json_array(f"{o}/users.json"),
                           ("id", "username"), e["users"])
        res += expect_rows("todos.csv", read_csv(f"{o}/todos.csv"),
                           ("id", "userId", "title"), e["todos"])
        res += expect_rows("todo_index.json", read_json_array(f"{o}/todo_index.json"),
                           ("id", "row_no"), e["todo_index"])
        with zipfile.ZipFile(f"{o}/final_export.zip") as z:
            names = sorted(z.namelist())
            want = ["metadata.json", "output.csv", "output.json", "output.tsv"]
            res.append(("zip entries", names == want, f"{names}"))
            if names == want:
                n = e["combined_rows"]
                got = {
                    "output.json": len(json.loads(z.read("output.json"))),
                    "output.csv": len(list(csv.DictReader(
                        io.StringIO(z.read("output.csv").decode(), newline="")))),
                    "output.tsv": len(z.read("output.tsv").decode().splitlines()) - 1,
                }
                res += [(f"zip {k} rows", v == n, f"{v} != {n}") for k, v in got.items()]
        served = [r for r in self.last_log if r[3] == 200]
        res.append(("stub requests == planned calls", len(served) == e["planned_calls"],
                    f"{len(served)} != {e['planned_calls']}"))
        res.append(("stub non-200 responses", len(served) == len(self.last_log),
                    f"{len(self.last_log) - len(served)} refused"))
        # the stub must not be what the program waits on
        http = eventlog.http_metrics(self.last_log, e["planned_calls"])
        res.append(("stub service p99 <= gap p50 / 2",
                    http["service_p99_ms"] * 2 <= http["gap_p50_ms"],
                    f"service p99 {http['service_p99_ms']:.3f} ms, "
                    f"gap p50 {http['gap_p50_ms']:.3f} ms"))
        return res


# ------------------------------------------------------------------ bulk

BULK_COLS = ("event_id", "user_id", "country", "sku", "price_cents", "status", "tier",
             "title", "note")


def read_parts(path, ext):
    return sorted(glob.glob(os.path.join(path, f"part-*{ext}")))


def read_sep_dir(path, sep):
    rows = []
    for p in read_parts(path, ".csv"):
        if sep == ",":
            rows += read_csv(p)
        else:   # TSV is written unquoted (tabs/newlines sanitized away)
            with open(p, encoding="utf-8") as f:
                lines = f.read().split("\n")
            head = lines[0].split("\t")
            rows += [dict(zip(head, ln.split("\t"))) for ln in lines[1:] if ln]
    return rows


def read_ndjson_dir(path):
    rows = []
    for p in read_parts(path, ".json"):
        with open(p, encoding="utf-8") as f:
            rows += [json.loads(ln) for ln in f if ln.strip()]
    return rows


def read_parquet_dir(path, columns=None):
    import pyarrow.parquet as pq
    return pq.read_table(path, columns=columns).to_pylist()


class EtlFileBulk(Workload):
    """Distributed sinks at data volume; no HTTP, no kernels."""
    config = "etl_file_bulk.toml"
    pipelines = ("ingest", "gold-events")
    N_EVENTS = 60_000

    def prepare(self):
        path = os.path.join(self.env["BENCH_INPUT"], "events.ndjson")
        kept, n_lines, dup_share = gen.gen_bulk(self.rng, self.N_EVENTS, path)
        gold = [r for r in kept if r[6] == "gold"]
        self.expect = {"ingest": {"rows": len(kept), "fp": gen.fingerprint(kept)},
                       "gold": {"rows": len(gold), "fp": gen.fingerprint(gold)}}
        self.input_records = n_lines
        self.input_bytes = os.path.getsize(path)
        self.stamp = {"input_rows": n_lines, "input_bytes": self.input_bytes,
                      "duplicate_share": round(dup_share, 4),
                      "kept_share": round(len(kept) / n_lines, 4)}

    def check_outputs(self):
        e, o = self.expect, self.out
        res = [(f"records_count {p}", self.counts.get(p) == e[k]["rows"],
                f"{self.counts.get(p)} != {e[k]['rows']}")
               for p, k in (("ingest", "ingest"), ("gold-events", "gold"))]
        res += expect_rows("events_csv", read_sep_dir(f"{o}/events_csv", ","),
                           BULK_COLS, e["ingest"])
        res += expect_rows("events_tsv", read_sep_dir(f"{o}/events_tsv", "\t"),
                           BULK_COLS, e["ingest"])
        res += expect_rows("events_json", read_ndjson_dir(f"{o}/events_json"),
                           BULK_COLS, e["ingest"])
        res += expect_rows("events_parquet", read_parquet_dir(f"{o}/events_parquet"),
                           BULK_COLS, e["ingest"])
        res += expect_rows("gold-events_parquet",
                           read_parquet_dir(f"{o}/gold-events_parquet"), BULK_COLS, e["gold"])
        res += expect_rows("combined_parquet",
                           read_parquet_dir(f"{o}/bench-file-bulk_combined_parquet"),
                           BULK_COLS, e["gold"])
        return res


# ------------------------------------------------------------------ curation

EXPECTED_CURATION = os.path.join(HERE, "expected", "curation_corpus.json")


def load_expected():
    try:
        with open(EXPECTED_CURATION) as f:
            return json.load(f)
    except OSError:
        return {}


class CurationCorpus(Workload):
    """The per-row kernels and the CC loop do nearly all the work."""
    config = "curation_corpus.toml"
    pipelines = ("c4", "gopher", "repetition", "near-dedup")
    N_DOCS = 5_000
    SHARDS = 8

    def prepare(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        rows, planted = gen.gen_docs(self.rng, self.N_DOCS)
        # a crawl arrives in shards: SHARDS parquet files of equal row count
        path = os.path.join(self.env["BENCH_INPUT"], "documents")
        os.makedirs(path)
        for k in range(self.SHARDS):
            part = rows[k::self.SHARDS]
            pq.write_table(pa.table({"doc_id": pa.array([r[0] for r in part], pa.int64()),
                                     "source": [r[1] for r in part],
                                     "text": [r[2] for r in part]}),
                           os.path.join(path, f"part-{k:05d}.parquet"))
        self.input_records = len(rows)
        self.input_bytes = dir_size(path)[0]
        self.stamp = {"input_rows": len(rows), "input_bytes": self.input_bytes,
                      "text_bytes": sum(len(r[2]) for r in rows),
                      "planted_share": planted}
        self.expect = load_expected().get(str(self.seed))
        self.observed = None

    def record_expected(self):
        """Store this run's per-stage counts and kept-id fingerprint as the
        seed's expected values (the kept set of a seed must not change)."""
        table = load_expected()
        table[str(self.seed)] = self.observed
        os.makedirs(os.path.dirname(EXPECTED_CURATION), exist_ok=True)
        with open(EXPECTED_CURATION, "w") as f:
            f.write("{\n" + ",\n".join(f" {json.dumps(k)}: {json.dumps(v)}" for k, v in
                                       sorted(table.items(), key=lambda kv: int(kv[0])))
                    + "\n}\n")

    def check_outputs(self):
        counts = [self.counts.get(p) for p in self.pipelines]
        kept = [r["doc_id"] for r in read_parquet_dir(f"{self.out}/kept_parquet", ["doc_id"])]
        got = {"stage_counts": counts,
               "kept_fp": gen.fingerprint((str(i),) for i in kept)}
        res = [("kept rows == near-dedup count", len(kept) == counts[-1],
                f"{len(kept)} != {counts[-1]}"),
               ("kept ids unique and from the input",
                len(set(kept)) == len(kept) and all(0 <= i < self.input_records for i in kept),
                "duplicate or foreign doc_id"),
               ("stage counts non-increasing",
                all(a is not None and b is not None and a >= b
                    for a, b in zip([self.input_records] + counts, counts)), f"{counts}")]
        if self.observed is None:
            self.observed = got
            shares, prev = {}, self.input_records
            for p, c in zip(self.pipelines, counts):
                shares[p] = round(c / prev, 4) if prev else 0.0
                prev = c
            self.stamp["stage_kept_share"] = shares
            self.stamp["kept_share"] = round(counts[-1] / self.input_records, 4)
        res.append(("same kept set as this run's first invocation", got == self.observed,
                    f"{got} != {self.observed}"))
        if self.expect is not None:
            res.append(("kept set matches the value recorded for this seed",
                        got == self.expect, f"{got} != {self.expect}"))
        return res


WORKLOADS = {
    "etl_api_sequence": EtlApiSequence,
    "etl_file_bulk": EtlFileBulk,
    "curation_corpus": CurationCorpus,
}
