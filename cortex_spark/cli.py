"""Query/ops CLI over a pipeline store (reference cortex-server/src/cli/*).

The reference ships `cortex` subcommands (cli/mod.rs Commands enum: node,
edge, search, traverse, path, briefing, import, export, backup, restore,
migrate, stats, doctor, config, audit, security, agent, prompt, init,
shell — plus the server-only serve/mcp, which SURVEY S6 replaces with the
batch driver contract). Batch analogue — each command reads/writes the
checkpoint-store parquet written by `cortex_spark.pipeline.run` and prints
one JSON document:

    python -m cortex_spark.cli --store /tmp/kg stats
    python -m cortex_spark.cli --store /tmp/kg search "rollout incident" -k 5
    python -m cortex_spark.cli --store /tmp/kg node list --kind decision
    python -m cortex_spark.cli --store /tmp/kg node create --kind fact --title T --body B
    python -m cortex_spark.cli --store /tmp/kg edge create --from A --to B --relation related_to
    python -m cortex_spark.cli --store /tmp/kg traverse <node_id> --depth 2
    python -m cortex_spark.cli --store /tmp/kg path <from_id> <to_id>
    python -m cortex_spark.cli --store /tmp/kg export --output /tmp/g --format graphml
    python -m cortex_spark.cli --store /tmp/kg import nodes.jsonl --source migration
    python -m cortex_spark.cli --store /tmp/kg audit --since 24h --actor dedup_scanner
    python -m cortex_spark.cli --store /tmp/kg prompt list
    python -m cortex_spark.cli --store /tmp/kg agent resolve <agent-name>
    python -m cortex_spark.cli config validate --config cortex.toml
    python -m cortex_spark.cli security generate-key
    python -m cortex_spark.cli init --yes             # setup wizard (cli/init.rs)
    python -m cortex_spark.cli --store /tmp/kg shell  # REPL (cli/shell.rs)

Mutations (node create/delete, edge create, import) follow the batch-store
model: creates APPEND a parquet partition; delete rewrites the node table
with the tombstone flag (the Iceberg equivalent is a delete file — a
single-row rewrite here because the local store is plain parquet). Every
mutation appends a matching audit row ({store}/audit), mirroring the
reference's policies/audit.rs wiring.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
from datetime import datetime, timedelta

_STORE_COMMANDS = {
    "stats", "search", "neighbors", "briefing", "doctor", "backup", "restore",
    "node", "edge", "traverse", "path", "export", "import", "audit",
    "prompt", "agent", "migrate", "shell",
}

SCHEMA_VERSION = 1


def _die(msg: str) -> "int":
    print(json.dumps({"error": msg}), file=sys.stderr)
    return 2


def parse_duration(s: str) -> timedelta:
    """'24h', '7d', '1h30m' → timedelta (cli/audit.rs:71 parse_duration).
    Strict: any unparseable residue rejects the whole string, matching the
    reference's parser."""
    units = {"s": 1, "m": 60, "h": 3600, "d": 86400, "w": 604800}
    s = s.strip()
    if not re.fullmatch(r"(\d+[smhdw])+", s):
        raise ValueError(f"cannot parse duration {s!r}: expected e.g. '24h', '7d', '1h30m'")
    total = sum(int(num) * units[unit] for num, unit in re.findall(r"(\d+)([smhdw])", s))
    return timedelta(seconds=total)


def _store_tables(spark, store: str):
    from cortex_spark.io import recover_parquet

    # a rewrite killed between its renames leaves the previous table aside
    paths = [f"{store}/canonical_nodes/data", f"{store}/canonical_edges/data"]
    for p in paths:
        recover_parquet(p)
    return tuple(spark.read.parquet(p) for p in paths)


def _node_row_json(r) -> dict:
    d = r.asDict(recursive=True)
    d.pop("embedding", None)
    for k in ("created_at", "updated_at", "last_accessed_at"):
        if d.get(k) is not None:
            d[k] = str(d[k])
    return d


def _audit_append(spark, store: str, action: str, target_id: str, actor: str = "cli",
                  details: str | None = None) -> None:
    from cortex_spark.audit import AUDIT, AuditLog

    now = datetime.utcnow().replace(microsecond=0)
    row = spark.createDataFrame([(now, action, target_id, actor, details)], AUDIT)
    AuditLog(f"{store}/audit", spark).append(row)


def _refresh(spark, store: str, stage: str) -> None:
    from cortex_spark.pipeline.checkpoint import CheckpointStore

    CheckpointStore(store, spark).refresh_manifest(stage)


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="cortex_spark.cli")
    ap.add_argument("--store", default=None, help="pipeline out_dir (checkpoint store)")
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--config", default=None, help="cortex.toml path (config commands)")
    sub = ap.add_subparsers(dest="cmd", required=True)

    sub.add_parser("stats")
    p = sub.add_parser("search")
    p.add_argument("query")
    p.add_argument("-k", "--limit", type=int, default=10, dest="k")
    p.add_argument("--hybrid", action="store_true")
    p.add_argument("--no-index", action="store_true",
                   help="force the exact full-scan path even when the store has an LSH index")
    p = sub.add_parser("neighbors")
    p.add_argument("node_id")
    p.add_argument("--direction", default="both", choices=["out", "in", "both"])
    p = sub.add_parser("briefing")
    p.add_argument("agent")
    p.add_argument("--compact", action="store_true")
    sub.add_parser("doctor")
    sub.add_parser("migrate")
    p = sub.add_parser("backup")
    p.add_argument("dest")
    p = sub.add_parser("restore")
    p.add_argument("src")
    p = sub.add_parser("security")
    p.add_argument("action", choices=["generate-key"])

    # node CRUD (cli/node.rs)
    p = sub.add_parser("node")
    nsub = p.add_subparsers(dest="node_cmd", required=True)
    c = nsub.add_parser("create")
    c.add_argument("--kind", required=True)
    c.add_argument("--title", required=True)
    c.add_argument("--body", default="")
    c.add_argument("--importance", type=float, default=0.5)
    c.add_argument("--tags", default="", help="comma-separated")
    c.add_argument("--stdin", action="store_true", help="read body from stdin")
    c = nsub.add_parser("get")
    c.add_argument("id")
    c = nsub.add_parser("list")
    c.add_argument("--kind", default=None)
    c.add_argument("--limit", type=int, default=20)
    c.add_argument("--source", default=None)
    c = nsub.add_parser("delete")
    c.add_argument("id")
    c.add_argument("-y", "--yes", action="store_true")
    c = nsub.add_parser("stats")
    c.add_argument("id")

    # edge ops (cli/edge.rs)
    p = sub.add_parser("edge")
    esub = p.add_subparsers(dest="edge_cmd", required=True)
    c = esub.add_parser("create")
    c.add_argument("--from", dest="src", required=True)
    c.add_argument("--to", dest="dst", required=True)
    c.add_argument("--relation", required=True)
    c.add_argument("--weight", type=float, default=1.0)
    c = esub.add_parser("list")
    c.add_argument("--node", required=True)
    c.add_argument("--direction", default="both", choices=["outgoing", "incoming", "both"])

    # traverse / path (cli/traverse.rs)
    p = sub.add_parser("traverse")
    p.add_argument("id")
    p.add_argument("--depth", type=int, default=2)
    p.add_argument("--direction", default="both", choices=["outgoing", "incoming", "both"])
    p.add_argument("--relation", default=None)
    p = sub.add_parser("path")
    p.add_argument("src")
    p.add_argument("dst")
    p.add_argument("--max-hops", type=int, default=5)

    # import / export (cli/import.rs, cli/export.rs)
    p = sub.add_parser("import")
    p.add_argument("file")
    p.add_argument("--format", default=None, choices=["json", "jsonl", "csv", "markdown"])
    p.add_argument("--source", default="import")
    p.add_argument("--dry-run", action="store_true")
    p = sub.add_parser("export")
    p.add_argument("--output", required=True)
    p.add_argument("--format", default="json", choices=["json", "jsonl", "dot", "graphml"])
    p.add_argument("--kind", default=None)

    # audit (cli/audit.rs)
    p = sub.add_parser("audit")
    p.add_argument("--since", default=None, help="e.g. 24h, 7d, 1h30m")
    p.add_argument("--node", default=None)
    p.add_argument("--actor", default=None)
    p.add_argument("--limit", type=int, default=100)

    # config (cli/config_cmd.rs)
    p = sub.add_parser("config")
    p.add_argument("action", choices=["validate", "show"])

    # prompt (cli/prompt.rs PromptCommands)
    p = sub.add_parser("prompt")
    psub = p.add_subparsers(dest="prompt_cmd", required=True)
    c = psub.add_parser("list")
    c.add_argument("--branch", default=None)
    c = psub.add_parser("get")
    c.add_argument("slug")
    c.add_argument("--branch", default="main")
    c = psub.add_parser("migrate")
    c.add_argument("file")
    c.add_argument("--dry-run", action="store_true")
    c = psub.add_parser("performance")
    c.add_argument("slug")
    c.add_argument("--limit", type=int, default=50)
    c = psub.add_parser("deploy")
    c.add_argument("slug")
    c.add_argument("--branch", default="main")
    c.add_argument("--agent-name", required=True)
    c.add_argument("--baseline-sample-size", type=int, default=20)
    c = psub.add_parser("rollback-status")
    c.add_argument("slug")
    c.add_argument("--branch", default="main")
    c = psub.add_parser("unquarantine")
    c.add_argument("slug")
    c.add_argument("--branch", default="main")

    # agent (cli/agent.rs AgentCommands)
    p = sub.add_parser("agent")
    asub = p.add_subparsers(dest="agent_cmd", required=True)
    asub.add_parser("list")
    c = asub.add_parser("show")
    c.add_argument("name")
    c = asub.add_parser("resolve")
    c.add_argument("name")
    c = asub.add_parser("bind")
    c.add_argument("name")
    c.add_argument("slug")
    c.add_argument("--weight", type=float, default=1.0)
    c = asub.add_parser("unbind")
    c.add_argument("name")
    c.add_argument("slug")
    c = asub.add_parser("select")
    c.add_argument("name")
    c.add_argument("--sentiment", type=float, default=0.5)
    c.add_argument("--task-type", default="casual")
    c.add_argument("--correction-rate", type=float, default=0.0)
    c.add_argument("--topic-shift", type=float, default=0.0)
    c.add_argument("--energy", type=float, default=0.5)
    c.add_argument("--epsilon", type=float, default=0.2)
    c = asub.add_parser("observe")
    c.add_argument("name")
    c.add_argument("--variant-id", required=True)
    c.add_argument("--variant-slug", default="")
    c.add_argument("--sentiment-score", type=float, default=0.5)
    c.add_argument("--correction-count", type=int, default=0)
    c.add_argument("--task-outcome", default="unknown",
                   choices=["success", "partial", "failure", "unknown"])
    c = asub.add_parser("history")
    c.add_argument("name")
    c.add_argument("--limit", type=int, default=20)

    # setup wizard + REPL (cli/init.rs, cli/shell.rs)
    p = sub.add_parser("init", help="interactive setup wizard; writes cortex.toml")
    p.add_argument("--output", default="cortex.toml", help="config file to write")
    p.add_argument("--yes", action="store_true",
                   help="accept every default without prompting (non-interactive)")
    sub.add_parser("shell", help="interactive REPL over the store (same commands, no prefix)")
    return ap


def _ask(prompt: str, default: str, yes: bool) -> str:
    """One wizard question: prompt on stderr (stdout stays JSON-clean),
    answer from stdin; empty line or EOF or --yes → default."""
    if yes:
        return default
    sys.stderr.write(f"{prompt} [{default}]: ")
    sys.stderr.flush()
    line = sys.stdin.readline()
    if not line:
        return default
    return line.strip() or default


_INIT_MODELS = {
    # cli/init.rs:16-24 model menu; dimensions consumed by config.load_config
    "1": ("BAAI/bge-small-en-v1.5", 384),
    "2": ("BAAI/bge-base-en-v1.5", 768),
    "3": ("BAAI/bge-large-en-v1.5", 1024),
}


def _cmd_init(args) -> int:
    """Setup wizard (cli/init.rs:7-131): ask, write cortex.toml, create the
    data dir, validate by round-tripping through load_config."""
    if not args.yes:
        sys.stderr.write("\nWelcome to cortex_spark — batch graph memory on Spark.\n\n")
    data_dir = _ask("Where should the pipeline store data?", "./data", args.yes)
    model_choice = _ask(
        "Embedding model? 1=bge-small (384d, fast)  2=bge-base (768d)  3=bge-large (1024d)",
        "1", args.yes)
    model, dims = _INIT_MODELS.get(model_choice.strip()[:1], _INIT_MODELS["1"])
    autolinker = _ask("Enable auto-linker? (y/n)", "y", args.yes).lower().startswith("y")
    interval = "60"
    if autolinker:
        raw_interval = _ask("Auto-linker interval (seconds)?", "60", args.yes)
        interval = raw_interval if raw_interval.isdigit() else "60"  # init.rs unwrap_or(60)
    ingest = _ask("Event ingest? (none/file/webhook/nats)", "none", args.yes).lower()
    agents_raw = _ask("Pre-configure agent briefings (comma-separated ids)?", "default", args.yes)
    agents = [a.strip() for a in agents_raw.split(",") if a.strip()]

    toml_lines = [
        "# generated by `cortex_spark.cli init`",
        "[server]",
        f"data_dir = {json.dumps(data_dir)}",
        f"nats_enabled = {'true' if ingest == 'nats' else 'false'}",
        "",
        "[embedding]",
        f"model = {json.dumps(model)}",
        f"dimensions = {dims}",
        "",
        "[auto_linker]",
        f"enabled = {'true' if autolinker else 'false'}",
        f"interval_seconds = {interval}",
        "",
        "[briefing]",
        f"precompute_agents = [{', '.join(json.dumps(a) for a in agents)}]",
        "",
        "[retention.by_kind]",
        "observation = 90",  # init.rs:103-110 default observation TTL
        "",
    ]
    with open(args.output, "w") as fh:
        fh.write("\n".join(toml_lines))

    from cortex_spark.config import load_config

    try:
        cfg = load_config(args.output)
    except Exception as e:  # never leave an unloadable config behind
        os.remove(args.output)
        return _die(f"generated config failed validation: {e}")
    os.makedirs(data_dir, exist_ok=True)
    print(json.dumps({
        "config": args.output, "data_dir": data_dir, "embed_dim": cfg.embed_dim,
        "auto_linker": autolinker, "agents": agents, "valid": True,
    }))
    return 0


_SHELL_HELP = """Available commands (same as the CLI, without the prefix):
  stats | doctor | migrate
  search <query> [-k N] [--hybrid]
  node create|get|list|delete|stats ...
  edge create|list ...
  traverse <id> [--depth N]    path <from> <to>
  neighbors <id> [--direction out|in|both]
  briefing <agent> [--compact]
  import <file> | export --output <dir> [--format json|jsonl|dot|graphml]
  backup <dest> | restore <src>
  audit [--since 24h] [--actor A]
  prompt ... | agent ... | config validate|show
  help | exit | quit"""


def _cmd_shell(args) -> int:
    """REPL (cli/shell.rs:6-78): read a line, split shell-style, re-parse
    through the same argparse tree, dispatch. Each dispatched command goes
    through main(), whose get_spark() is getOrCreate — one shared
    SparkSession across the whole session, so only the first command pays
    JVM startup (the reference holds one gRPC channel the same way)."""
    import shlex

    interactive = sys.stdin.isatty()
    if interactive:
        sys.stderr.write(f"\ncortex_spark shell — store {args.store}\n"
                         "Type 'help' for commands, 'exit' to quit.\n\n")
    while True:
        if interactive:
            sys.stderr.write("cortex> ")
            sys.stderr.flush()
        line = sys.stdin.readline()
        if not line:  # EOF (^D / end of piped script)
            break
        line = line.strip()
        if not line:
            continue
        if line in ("exit", "quit"):
            break
        if line == "help":
            print(_SHELL_HELP)
            continue
        try:
            words = shlex.split(line)
        except ValueError as e:
            print(json.dumps({"error": f"parse error: {e}"}), file=sys.stderr)
            continue
        if words[0] == "shell":
            print("Already in shell mode.")  # shell.rs:52-55
            continue
        if words[0] == "init":
            print("Run `init` outside the shell.")
            continue
        argv = ["--store", args.store, "--cpus", str(args.cpus)]
        if args.config:
            argv += ["--config", args.config]
        argv += words
        try:
            main(argv)  # rc intentionally ignored: errors print, loop continues
        except SystemExit:
            pass  # argparse already printed usage to stderr (shell.rs:58-61)
        except Exception as e:  # a failed command must not kill the REPL
            print(json.dumps({"error": str(e)}), file=sys.stderr)
    return 0


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    # --- no-Spark commands first ---
    if args.cmd == "init":
        return _cmd_init(args)

    if args.cmd == "security":
        from cortex_spark.crypto import generate_key

        print(generate_key())
        return 0

    if args.cmd == "config":
        if not args.config:
            return _die("config commands need --config <cortex.toml>")
        from cortex_spark.config import load_config

        try:
            cfg = load_config(args.config)
        except Exception as e:
            print(json.dumps({"valid": False, "error": str(e)}))
            return 1
        if args.action == "validate":
            print(json.dumps({"valid": True}))
        else:
            import dataclasses

            def plain(o):
                if dataclasses.is_dataclass(o):
                    return {k: plain(v) for k, v in dataclasses.asdict(o).items()}
                return o

            print(json.dumps(plain(cfg), default=str))
        return 0

    if args.cmd in _STORE_COMMANDS and not args.store:
        return _die(f"'{args.cmd}' needs --store <pipeline out_dir>")

    if args.cmd == "shell":
        # no session here: each dispatched command's get_spark() is
        # getOrCreate, so the first command creates it and the rest reuse it
        return _cmd_shell(args)

    # filesystem-only: no SparkSession at all (cli robustness: restore used
    # to spin up Spark for a pure file copy)
    if args.cmd == "backup":
        from cortex_spark.ops import backup_store

        man = backup_store(args.store, args.dest)
        print(json.dumps({"backed_up": len(man["files"]), "dest": args.dest}))
        return 0
    if args.cmd == "restore":
        from cortex_spark.ops import restore_store

        man = restore_store(args.src, args.store)
        print(json.dumps({"restored": len(man["files"]), "store": args.store}))
        return 0
    if args.cmd == "migrate":
        # schema-version stamp (reference `cortex migrate`): records the CLI
        # data-model version in the store; a real migration would transform
        # tables between stamps.
        vfile = os.path.join(args.store, "SCHEMA_VERSION")
        old = int(open(vfile).read().strip()) if os.path.exists(vfile) else None
        with open(vfile, "w") as fh:
            fh.write(str(SCHEMA_VERSION))
        print(json.dumps({"from": old, "to": SCHEMA_VERSION,
                          "migrated": old is not None and old != SCHEMA_VERSION}))
        return 0

    from cortex_spark.session import get_spark

    spark = get_spark("cortex-cli", master=f"local[{args.cpus}]", shuffle_partitions=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    if args.cmd == "doctor":
        from cortex_spark.ops import doctor

        results = doctor(spark, args.store)
        print(json.dumps(results))
        return 0 if all(r["status"] != "error" for r in results) else 1

    if args.cmd == "audit":
        from cortex_spark.audit import AuditLog

        log = AuditLog(f"{args.store}/audit", spark)
        try:
            since = (datetime.utcnow() - parse_duration(args.since)) if args.since else None
        except ValueError as e:
            return _die(str(e))
        df = log.query(actor=args.actor, since=since)
        if args.node:
            df = df.filter(df["target_id"] == args.node)
        rows = df.limit(args.limit).collect()
        print(json.dumps([
            {"ts": str(r["ts"]), "action": r["action"], "target_id": r["target_id"],
             "actor": r["actor"], "details": r["details"]}
            for r in rows
        ]))
        return 0

    if args.cmd == "import":
        return _cmd_import(spark, args)

    nodes, edges = _store_tables(spark, args.store)
    from pyspark.sql import functions as F

    if args.cmd == "stats":
        from cortex_spark.stats import stats

        print(json.dumps(stats(nodes, edges), default=str))
    elif args.cmd == "search":
        from cortex_spark.hybrid import hybrid_search, vector_search

        emb = nodes.select("embedding").filter("embedding is not null").first()
        if emb is None:
            return _die("store has no embedded nodes; run the pipeline with embeddings first")
        dim = len(emb[0])
        # serve from the store's persisted LSH signature index when one
        # exists (the incremental linker maintains it) — on large corpora
        # this replaces the per-query full-corpus scan with a bucket probe
        index = None
        if not args.no_index:
            import os as _os

            idx_path = _os.path.join(args.store, "lsh_index")
            if _os.path.exists(_os.path.join(idx_path, "_index_meta.json")):
                from cortex_spark.linker.index import LshIndexStore

                try:
                    index = LshIndexStore.open(idx_path, spark)
                except ValueError:
                    index = None  # pre-params index layout: fall back to scan
        if args.hybrid:
            hits = hybrid_search(nodes, edges, args.query, limit=args.k, embed_dim=dim, index=index)
            score_col = "combined_score"
        else:
            hits = vector_search(nodes, args.query, k=args.k, embed_dim=dim, index=index)
            score_col = "vector_score"
        print(json.dumps([
            {"node_id": r["node_id"], "kind": r["kind"], "title": r["title"],
             "score": round(float(r[score_col]), 6)}
            for r in hits.collect()
        ]))
    elif args.cmd == "neighbors":
        from cortex_spark.graph.traverse import neighbors

        out = neighbors(edges, args.node_id, direction=args.direction).collect()
        print(json.dumps(sorted(r["node_id"] for r in out)))
    elif args.cmd == "briefing":
        from cortex_spark.briefing import (
            generate_briefing,
            render_briefing_compact,
            render_briefing_markdown,
        )

        report = generate_briefing(nodes, edges, args.agent, now=datetime(2026, 1, 1))
        render = render_briefing_compact if args.compact else render_briefing_markdown
        print(json.dumps({"briefing": render(report, args.agent)}))
    elif args.cmd == "node":
        return _cmd_node(spark, args, nodes)
    elif args.cmd == "edge":
        return _cmd_edge(spark, args, edges)
    elif args.cmd == "traverse":
        from cortex_spark.graph.traverse import bfs

        direction = {"outgoing": "out", "incoming": "in", "both": "both"}[args.direction]
        vis = bfs(edges, [args.id], max_depth=args.depth, direction=direction,
                  relation=args.relation)
        out = (
            vis.join(nodes.select("node_id", "kind", "title"), "node_id", "left")
            .orderBy("depth", "node_id")
            .collect()
        )
        print(json.dumps([
            {"node_id": r["node_id"], "depth": r["depth"], "kind": r["kind"], "title": r["title"]}
            for r in out
        ]))
    elif args.cmd == "path":
        from cortex_spark.graph.paths import shortest_path_unweighted

        path = shortest_path_unweighted(edges, args.src, args.dst,
                                        max_depth=args.max_hops, directed=False)
        print(json.dumps({"path": path, "hops": None if path is None else len(path) - 1}))
        return 0 if path is not None else 1
    elif args.cmd == "export":
        return _cmd_export(args, nodes, edges)
    elif args.cmd == "prompt":
        return _cmd_prompt(spark, args, nodes, edges)
    elif args.cmd == "agent":
        return _cmd_agent(spark, args, nodes, edges)
    return 0


def _obs_path(store: str) -> str:
    return f"{store}/prompt_observations"


def _deploy_path(store: str, slug: str, branch: str) -> str:
    import os

    d = os.path.join(store, "deployments")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, f"{slug}__{branch}.json")


def _read_obs(spark, store: str):
    import os

    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("agent", T.StringType()),
        T.StructField("slug", T.StringType()),
        T.StructField("variant_id", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("sentiment", T.DoubleType()),
        T.StructField("correction_count", T.LongType()),
        T.StructField("task_outcome", T.StringType()),
        T.StructField("obs_score", T.DoubleType()),
        T.StructField("ts", T.TimestampType()),
    ])
    p = _obs_path(store)
    if os.path.isdir(p):
        return spark.read.parquet(p)
    return spark.createDataFrame([], schema)


def _cmd_prompt(spark, args, nodes, edges) -> int:
    from pyspark.sql import functions as F

    from cortex_spark.prompt_graph import heads, resolve_prompt

    if args.prompt_cmd == "list":
        h = heads(nodes, edges)
        if args.branch:
            h = h.filter(F.col("branch") == args.branch)
        rows = h.orderBy("slug", "branch").collect()
        print(json.dumps([
            {"slug": r["slug"], "branch": r["branch"], "version": r["version"],
             "node_id": r["node_id"], "title": r["title"]}
            for r in rows
        ]))
    elif args.prompt_cmd == "get":
        resolved = resolve_prompt(nodes, edges, args.slug, branch=args.branch)
        if resolved is None:
            return _die(f"no prompt {args.slug!r} on branch {args.branch!r}")
        print(json.dumps(resolved, default=str))
    elif args.prompt_cmd == "migrate":
        # migration JSON: [{"slug": ..., "sections": {...}, "branch"?,
        # "type"?}, ...] (cli/prompt.rs PromptMigrateArgs)
        from datetime import datetime as _dt

        from cortex_spark.prompt_graph import create_prompt, create_version, prompt_cols

        spec = json.load(open(args.file))
        if args.dry_run:
            print(json.dumps({"would_import": len(spec)}))
            return 0
        now = _dt.utcnow().replace(microsecond=0)
        n_cur, e_cur = nodes, edges
        imported = []
        for item in spec:
            slug, branch = item["slug"], item.get("branch", "main")
            exists = not prompt_cols(n_cur).filter(
                (F.col("slug") == slug) & (F.col("branch") == branch)).isEmpty()
            fn = create_version if exists else create_prompt
            kwargs = {} if exists else {"prompt_type": item.get("type", "persona")}
            n_cur, e_cur, pid = fn(
                n_cur, e_cur, slug, item.get("sections", {}), "migration", now,
                branch=branch, **kwargs)
            imported.append({"slug": slug, "branch": branch, "node_id": pid})
        new_nodes = n_cur.join(nodes.select("node_id"), "node_id", "left_anti")
        new_edges = e_cur.join(edges.select("edge_id"), "edge_id", "left_anti")
        new_nodes.write.mode("append").partitionBy("kind").parquet(
            f"{args.store}/canonical_nodes/data")
        if not new_edges.isEmpty():
            new_edges.write.mode("append").partitionBy("relation").parquet(
                f"{args.store}/canonical_edges/data")
            _refresh(spark, args.store, "canonical_edges")
        _refresh(spark, args.store, "canonical_nodes")
        for item in imported:
            _audit_append(spark, args.store, "node.created", item["node_id"],
                          actor="prompt-migrate")
        print(json.dumps({"imported": imported}))
    elif args.prompt_cmd == "performance":
        obs = _read_obs(spark, args.store).filter(F.col("slug") == args.slug)
        rows = obs.orderBy(F.desc("seq")).limit(args.limit)
        agg = rows.groupBy("variant_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("obs_score"), 6).alias("avg_score"),
            F.round(F.avg("sentiment"), 6).alias("avg_sentiment"),
            F.round(F.avg("correction_count"), 6).alias("avg_corrections"),
        ).orderBy("variant_id").collect()
        print(json.dumps([r.asDict() for r in agg]))
    elif args.prompt_cmd == "deploy":
        from cortex_spark.prompt_graph import compute_baseline_stats

        obs = (
            _read_obs(spark, args.store).filter(F.col("slug") == args.slug)
            .orderBy(F.desc("seq")).limit(args.baseline_sample_size).collect()
        )
        samples = [(min(r["correction_count"] * 0.1, 1.0), r["sentiment"]) for r in obs]
        mc, sc, ms, ss = compute_baseline_stats(samples)
        record = {
            "slug": args.slug, "branch": args.branch, "agent_name": args.agent_name,
            "baseline": {"mean_correction": mc, "std_correction": sc,
                         "mean_sentiment": ms, "std_sentiment": ss},
            "baseline_n": len(samples), "quarantined": False, "seq_at_deploy":
            max((r["seq"] for r in obs), default=0),
        }
        with open(_deploy_path(args.store, args.slug, args.branch), "w") as fh:
            json.dump(record, fh, indent=1)
        print(json.dumps(record))
    elif args.prompt_cmd == "rollback-status":
        import os

        from cortex_spark.prompt_graph import first_trigger, monitor_observations

        path = _deploy_path(args.store, args.slug, args.branch)
        if not os.path.exists(path):
            return _die(f"no deployment recorded for {args.slug!r} on {args.branch!r}")
        record = json.load(open(path))
        b = record["baseline"]
        baseline = (b["mean_correction"], b["std_correction"],
                    b["mean_sentiment"], b["std_sentiment"])
        obs = (
            _read_obs(spark, args.store)
            .filter((F.col("slug") == args.slug) & (F.col("seq") > record["seq_at_deploy"]))
            .select(
                "seq",
                F.least(F.col("correction_count") * 0.1, F.lit(1.0)).alias("correction_rate"),
                F.col("sentiment"), F.col("obs_score"),
            )
        )
        trigger = None
        if not obs.isEmpty():
            trigger = first_trigger(monitor_observations(obs, baseline))
        print(json.dumps({
            "slug": args.slug, "branch": args.branch,
            "quarantined": record.get("quarantined", False),
            "observations_since_deploy": obs.count(),
            "trigger": trigger,
        }, default=str))
    elif args.prompt_cmd == "unquarantine":
        import os

        path = _deploy_path(args.store, args.slug, args.branch)
        if not os.path.exists(path):
            return _die(f"no deployment recorded for {args.slug!r} on {args.branch!r}")
        record = json.load(open(path))
        record["quarantined"] = False
        with open(path, "w") as fh:
            json.dump(record, fh, indent=1)
        print(json.dumps({"slug": args.slug, "quarantined": False}))
    return 0


def _cmd_node(spark, args, nodes) -> int:
    from pyspark.sql import functions as F

    from cortex_spark.io import publish_parquet
    from cortex_spark.schemas import NODES

    if args.node_cmd == "create":
        body = sys.stdin.read() if args.stdin else args.body
        tags = [t for t in args.tags.split(",") if t]
        now = datetime.utcnow().replace(microsecond=0)
        import hashlib

        nid = hashlib.sha256(f"{args.title}\x00{body}\x00cli".encode()).hexdigest()[:32]
        if not nodes.filter(F.col("node_id") == nid).isEmpty():
            return _die(f"node with identical title/body already exists: {nid}")
        row = spark.createDataFrame(
            [(nid, args.kind, args.title, body, {}, tags, None, "cli", None, "cli",
              float(args.importance), 0, now, now, now, False)], NODES)
        row.write.mode("append").partitionBy("kind").parquet(f"{args.store}/canonical_nodes/data")
        _refresh(spark, args.store, "canonical_nodes")
        _audit_append(spark, args.store, "node.created", nid)
        print(json.dumps({"node_id": nid, "kind": args.kind, "title": args.title}))
    elif args.node_cmd == "get":
        r = nodes.filter(F.col("node_id") == args.id).first()
        if r is None:
            return _die(f"node {args.id} not found")
        print(json.dumps(_node_row_json(r)))
    elif args.node_cmd == "list":
        df = nodes.filter(~F.coalesce(F.col("deleted"), F.lit(False)))
        if args.kind:
            df = df.filter(F.col("kind") == args.kind)
        if args.source:
            df = df.filter(F.col("source_agent") == args.source)
        rows = df.orderBy(F.desc("created_at"), "node_id").limit(args.limit).collect()
        print(json.dumps([_node_row_json(r) for r in rows]))
    elif args.node_cmd == "delete":
        if not args.yes:
            return _die("refusing to delete without -y/--yes")
        if nodes.filter(F.col("node_id") == args.id).isEmpty():
            return _die(f"node {args.id} not found")
        now = datetime.utcnow().replace(microsecond=0)
        publish_parquet(nodes.withColumn(
            "deleted",
            F.when(F.col("node_id") == args.id, F.lit(True)).otherwise(F.col("deleted")),
        ).withColumn(
            "updated_at",
            F.when(F.col("node_id") == args.id, F.lit(now)).otherwise(F.col("updated_at")),
        ), f"{args.store}/canonical_nodes/data", ["kind"])
        _refresh(spark, args.store, "canonical_nodes")
        _audit_append(spark, args.store, "node.deleted", args.id)
        print(json.dumps({"deleted": args.id}))
    elif args.node_cmd == "stats":
        r = nodes.filter(F.col("node_id") == args.id).first()
        if r is None:
            return _die(f"node {args.id} not found")
        print(json.dumps({
            "node_id": r["node_id"], "access_count": r["access_count"],
            "last_accessed_at": str(r["last_accessed_at"]),
            "created_at": str(r["created_at"]), "updated_at": str(r["updated_at"]),
            "importance": float(r["importance"]), "deleted": bool(r["deleted"]),
        }))
    return 0


def _cmd_edge(spark, args, edges) -> int:
    from pyspark.sql import functions as F

    from cortex_spark.schemas import EDGES

    if args.edge_cmd == "create":
        now = datetime.utcnow().replace(microsecond=0)
        eid = f"{args.src}-{args.dst}-{args.relation}"
        row = spark.createDataFrame(
            [(eid, args.src, args.dst, args.relation, float(args.weight),
              ("manual", None, None), now, now)], EDGES)
        row.write.mode("append").partitionBy("relation").parquet(f"{args.store}/canonical_edges/data")
        _refresh(spark, args.store, "canonical_edges")
        _audit_append(spark, args.store, "edge.created", eid)
        print(json.dumps({"edge_id": eid}))
    else:
        df = edges
        if args.direction == "outgoing":
            df = df.filter(F.col("src") == args.node)
        elif args.direction == "incoming":
            df = df.filter(F.col("dst") == args.node)
        else:
            df = df.filter((F.col("src") == args.node) | (F.col("dst") == args.node))
        rows = df.orderBy("edge_id").collect()
        print(json.dumps([
            {"edge_id": r["edge_id"], "src": r["src"], "dst": r["dst"],
             "relation": r["relation"], "weight": round(float(r["weight"]), 6)}
            for r in rows
        ]))
    return 0


def _cmd_import(spark, args) -> int:
    from cortex_spark.io import import_nodes_json

    fmt = args.format
    if fmt is None:  # auto-detect by extension (cli/import.rs)
        ext = os.path.splitext(args.file)[1].lower()
        fmt = {".json": "json", ".jsonl": "jsonl", ".csv": "csv",
               ".md": "markdown", ".markdown": "markdown"}.get(ext)
        if fmt is None:
            return _die(f"cannot auto-detect format of {args.file}; pass --format")
    if fmt in ("json", "jsonl"):
        # 'json' = whole-file (possibly pretty-printed) array → multiLine;
        # 'jsonl' = one object per line. Both raise on unparseable files
        # instead of importing default-valued garbage rows.
        try:
            out = import_nodes_json(spark, args.file, source=args.source,
                                    multiline=(fmt == "json"))
        except ValueError as e:
            return _die(str(e))
    elif fmt == "csv":
        import shutil
        import tempfile

        raw = spark.read.option("header", True).csv(args.file)
        # convert via a throwaway temp dir, never next to the user's input
        tmp = tempfile.mkdtemp(prefix="cortex_import_csv_")
        try:
            raw.write.mode("overwrite").json(tmp)
            out = import_nodes_json(spark, tmp, source=args.source)
            out = out.localCheckpoint(eager=True)  # materialize before cleanup
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    else:  # markdown: one node; first heading is the title
        text = open(args.file, encoding="utf-8").read()
        m = re.search(r"^#+\s*(.+)$", text, re.M)
        title = m.group(1).strip() if m else os.path.basename(args.file)
        import hashlib

        nid = hashlib.sha256(f"{title}\x00{text}\x00{args.source}".encode()).hexdigest()[:32]
        from cortex_spark.schemas import NODES

        now = datetime(2026, 1, 1)
        out = spark.createDataFrame(
            [(nid, "fact", title, text, {"imported_from": args.source}, [], None,
              args.source, None, "import", 0.5, 0, now, now, now, False)], NODES)
    n = out.count()
    if args.dry_run:
        print(json.dumps({"would_import": n, "format": fmt}))
        return 0
    out.write.mode("append").partitionBy("kind").parquet(f"{args.store}/canonical_nodes/data")
    _refresh(spark, args.store, "canonical_nodes")
    from cortex_spark.audit import audit_entries

    _now = datetime.utcnow().replace(microsecond=0)
    from cortex_spark.audit import AuditLog

    AuditLog(f"{args.store}/audit", spark).append(
        audit_entries(out, "node.created", _now, actor=f"import:{args.source}"))
    print(json.dumps({"imported": n, "format": fmt}))
    return 0


def _cmd_export(args, nodes, edges) -> int:
    from pyspark.sql import functions as F

    live_nodes = nodes.filter(~F.coalesce(F.col("deleted"), F.lit(False)))
    if args.kind:
        live_nodes = live_nodes.filter(F.col("kind") == args.kind)
    # ALWAYS restrict edges to live exported endpoints — an edge referencing
    # a tombstoned/absent node makes the GraphML/DOT invalid (consumers
    # reject edges to undeclared nodes)
    edges = (
        edges.join(live_nodes.select(F.col("node_id").alias("src")), "src", "left_semi")
        .join(live_nodes.select(F.col("node_id").alias("dst")), "dst", "left_semi")
    )
    if args.format in ("json", "jsonl"):
        from cortex_spark.io import export_graph

        export_graph(live_nodes, edges, args.output)
        print(json.dumps({"exported": args.output, "format": args.format}))
        return 0
    # dot / graphml are single-document visualization formats: rendered
    # driver-side (the reference writes one file too); graphs exported for
    # viz are filtered/small by construction.
    nrows = live_nodes.select("node_id", "kind", "title").orderBy("node_id").collect()
    erows = edges.select("src", "dst", "relation", "weight").orderBy("src", "dst", "relation").collect()

    def esc(s):
        return (s or "").replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace('"', "&quot;")

    lines: list[str] = []
    if args.format == "dot":
        lines.append("digraph cortex {")
        for r in nrows:
            label = (r["title"] or r["node_id"]).replace('"', r"\"")
            lines.append(f'  "{r["node_id"]}" [label="{label}", kind="{r["kind"]}"];')
        for r in erows:
            lines.append(f'  "{r["src"]}" -> "{r["dst"]}" [label="{r["relation"]}"];')
        lines.append("}")
    else:  # graphml
        lines.append('<?xml version="1.0" encoding="UTF-8"?>')
        lines.append('<graphml xmlns="http://graphml.graphdrawing.org/xmlns">')
        lines.append('<key id="kind" for="node" attr.name="kind" attr.type="string"/>')
        lines.append('<key id="title" for="node" attr.name="title" attr.type="string"/>')
        lines.append('<key id="relation" for="edge" attr.name="relation" attr.type="string"/>')
        lines.append('<key id="weight" for="edge" attr.name="weight" attr.type="double"/>')
        lines.append('<graph id="cortex" edgedefault="directed">')
        for r in nrows:
            lines.append(
                f'<node id="{esc(r["node_id"])}"><data key="kind">{esc(r["kind"])}</data>'
                f'<data key="title">{esc(r["title"])}</data></node>')
        for r in erows:
            w = 0.0 if r["weight"] is None else float(r["weight"])
            lines.append(
                f'<edge source="{esc(r["src"])}" target="{esc(r["dst"])}">'
                f'<data key="relation">{esc(r["relation"])}</data>'
                f'<data key="weight">{w:.6f}</data></edge>')
        lines.append("</graph></graphml>")
    os.makedirs(os.path.dirname(os.path.abspath(args.output)) or ".", exist_ok=True)
    with open(args.output, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    print(json.dumps({"exported": args.output, "format": args.format,
                      "nodes": len(nrows), "edges": len(erows)}))
    return 0


def _cmd_agent(spark, args, nodes, edges) -> int:
    from pyspark.sql import functions as F

    from cortex_spark.io import publish_parquet

    agents = nodes.filter((F.col("kind") == "agent") & ~F.coalesce(F.col("deleted"), F.lit(False)))
    if args.agent_cmd == "list":
        rows = agents.orderBy("title").collect()
        print(json.dumps([
            {"node_id": r["node_id"], "name": r["title"],
             "created_at": str(r["created_at"])}
            for r in rows
        ]))
        return 0
    a = agents.filter(F.col("title") == args.name).first()
    if a is None:
        return _die(f"no agent named {args.name!r}")

    if args.agent_cmd in ("bind", "unbind"):
        from datetime import datetime as _dt

        from cortex_spark.prompt_graph import heads
        from cortex_spark.schemas import EDGES

        head = heads(nodes, edges).filter(F.col("slug") == args.slug).first()
        if head is None:
            return _die(f"no prompt with slug {args.slug!r}")
        eid_existing = (
            edges.filter((F.col("src") == a["node_id"]) & (F.col("dst") == head["node_id"])
                         & (F.col("relation") == "uses")).select("edge_id").first()
        )
        if args.agent_cmd == "unbind":
            if eid_existing is None:
                return _die(f"{args.name!r} has no binding to {args.slug!r}")
            publish_parquet(edges.filter(F.col("edge_id") != eid_existing[0]),
                            f"{args.store}/canonical_edges/data", ["relation"])
            _refresh(spark, args.store, "canonical_edges")
            _audit_append(spark, args.store, "edge.pruned", eid_existing[0], actor="agent-unbind")
            print(json.dumps({"unbound": args.slug, "agent": args.name}))
            return 0
        now = _dt.utcnow().replace(microsecond=0)
        if eid_existing is not None:  # update weight in place
            updated = edges.withColumn(
                "weight",
                F.when(F.col("edge_id") == eid_existing[0],
                       F.lit(float(args.weight)).cast("float")).otherwise(F.col("weight")),
            )
            publish_parquet(updated, f"{args.store}/canonical_edges/data", ["relation"])
            eid = eid_existing[0]
        else:
            eid = f"{a['node_id']}-{head['node_id']}-uses"
            row = spark.createDataFrame(
                [(eid, a["node_id"], head["node_id"], "uses", float(args.weight),
                  ("manual", None, None), now, now)], EDGES)
            row.write.mode("append").partitionBy("relation").parquet(
                f"{args.store}/canonical_edges/data")
        _refresh(spark, args.store, "canonical_edges")
        _audit_append(spark, args.store, "edge.created", eid, actor="agent-bind")
        print(json.dumps({"bound": args.slug, "agent": args.name,
                          "weight": float(args.weight), "edge_id": eid}))
        return 0

    if args.agent_cmd in ("show", "resolve", "select"):
        return _cmd_agent_prompts(spark, args, nodes, edges, a)

    if args.agent_cmd == "observe":
        return _cmd_agent_observe(spark, args, nodes, edges, a)

    # history: observation log for the agent, newest first
    rows = (
        _read_obs(spark, args.store).filter(F.col("agent") == args.name)
        .orderBy(F.desc("seq")).limit(args.limit).collect()
    )
    print(json.dumps([
        {"seq": r["seq"], "variant_id": r["variant_id"], "slug": r["slug"],
         "sentiment": r["sentiment"], "corrections": r["correction_count"],
         "outcome": r["task_outcome"], "obs_score": round(float(r["obs_score"]), 6),
         "ts": str(r["ts"])}
        for r in rows
    ]))
    return 0


def _cmd_agent_prompts(spark, args, nodes, edges, a) -> int:
    from pyspark.sql import functions as F

    # prompts bound to the agent: `uses` edges agent → prompt
    # (prompt/rollback.rs:695-768 — the binding relation is rels::uses())
    bound = (
        edges.filter((F.col("src") == a["node_id"]) & (F.col("relation") == "uses"))
        .join(nodes.select(F.col("node_id").alias("dst"), F.col("title").alias("prompt_title"),
                           F.get_json_object("body", "$.slug").alias("slug"),
                           F.coalesce(F.get_json_object("body", "$.branch"),
                                      F.lit("main")).alias("branch")), "dst")
        .orderBy(F.desc("weight"), "dst")
        .collect()
    )
    if args.agent_cmd == "show":
        print(json.dumps({
            "agent": args.name, "node_id": a["node_id"],
            "prompts": [
                {"node_id": r["dst"], "title": r["prompt_title"],
                 "weight": round(float(r["weight"]), 6)}
                for r in bound
            ],
        }))
        return 0
    if args.agent_cmd == "resolve":
        # concatenate bound prompt bodies weight-desc (the batch analogue
        # of the reference's effective-prompt assembly)
        from cortex_spark.prompt_graph import resolve_prompt

        parts = []
        for r in bound:
            resolved = (
                resolve_prompt(nodes, edges, r["slug"], branch=r["branch"]) if r["slug"] else None
            )
            parts.append({"prompt": r["prompt_title"], "weight": round(float(r["weight"]), 6),
                          "resolved": resolved})
        print(json.dumps({"agent": args.name, "effective": parts}, default=str))
        return 0

    if args.agent_cmd == "select":
        # epsilon-greedy variant selection through the REAL scoring columns
        # (selection.rs:125-194 via cortex_spark.prompt.select_variant)
        from cortex_spark.prompt import select_variant

        if not bound:
            return _die(f"{args.name!r} has no bound prompts")
        variants = (
            edges.filter((F.col("src") == a["node_id"]) & (F.col("relation") == "uses"))
            .join(nodes.select(F.col("node_id").alias("dst"),
                               F.get_json_object("body", "$.slug").alias("slug")), "dst")
            .select(
                F.lit(args.name).alias("prompt_id"),
                F.col("dst").alias("variant_id"),
                F.col("weight").cast("double").alias("edge_weight"),
                F.lit(None).cast("map<string,double>").alias("context_weights"),
            )
        )
        signals = {
            "sentiment": args.sentiment, "correction_rate": args.correction_rate,
            "topic_shift": args.topic_shift, "energy": args.energy,
            "task_" + args.task_type: 1.0,
        }
        picked = select_variant(variants, signals, epsilon=args.epsilon).first()
        print(json.dumps({
            "agent": args.name, "variant_id": picked["variant_id"],
            "score": round(float(picked["score"]), 6), "explored": bool(picked["explore"]),
        }))
        return 0

    return 0


def _cmd_agent_observe(spark, args, nodes, edges, a) -> int:
    from pyspark.sql import functions as F

    # record the observation + EMA-update the uses edge weight through
    # the REAL column functions (selection.rs observation score, α=0.1)
    from datetime import datetime as _dt

    from pyspark.sql import types as T

    from cortex_spark.io import publish_parquet
    from cortex_spark.prompt import observation_score_col, update_edge_weight_col

    target = edges.filter(
        (F.col("src") == a["node_id"]) & (F.col("dst") == args.variant_id)
        & (F.col("relation") == "uses")
    ).first()
    if target is None:
        return _die(f"{args.name!r} has no uses edge to variant {args.variant_id!r}")
    slug_row = nodes.filter(F.col("node_id") == args.variant_id).select(
        F.get_json_object("body", "$.slug").alias("slug")).first()
    now = _dt.utcnow().replace(microsecond=0)
    prev_seq = (
        _read_obs(spark, args.store).agg(F.max("seq").alias("m")).first()["m"] or 0
    )
    obs_row = spark.createDataFrame(
        [(args.name, (slug_row["slug"] if slug_row else None) or args.variant_slug,
          args.variant_id, int(prev_seq) + 1, float(args.sentiment_score),
          int(args.correction_count), args.task_outcome, None, now)],
        "agent string, slug string, variant_id string, seq bigint, "
        "sentiment double, correction_count bigint, task_outcome string, "
        "obs_score double, ts timestamp",
    ).withColumn(
        "obs_score",
        observation_score_col(F.col("sentiment"), F.col("correction_count"),
                              F.col("task_outcome")).cast(T.DoubleType()),
    )
    obs = obs_row.first()
    obs_row.write.mode("append").parquet(_obs_path(args.store))
    updated = edges.withColumn(
        "weight",
        F.when(
            F.col("edge_id") == target["edge_id"],
            update_edge_weight_col(F.col("weight").cast("double"),
                                   F.lit(obs["obs_score"])).cast("float"),
        ).otherwise(F.col("weight")),
    )
    publish_parquet(updated, f"{args.store}/canonical_edges/data", ["relation"])
    _refresh(spark, args.store, "canonical_edges")
    _audit_append(spark, args.store, "node.updated", args.variant_id, actor="agent-observe",
                  details=f"obs_score={obs['obs_score']:.4f}")
    new_w = (
        spark.read.parquet(f"{args.store}/canonical_edges/data")
        .filter(F.col("edge_id") == target["edge_id"]).first()["weight"]
    )
    print(json.dumps({
        "agent": args.name, "variant_id": args.variant_id, "seq": obs["seq"],
        "obs_score": round(float(obs["obs_score"]), 6),
        "old_weight": round(float(target["weight"]), 6),
        "new_weight": round(float(new_w), 6),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
