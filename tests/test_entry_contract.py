"""Driver-contract consistency: queries() and oracle_sql() must stay in
lockstep, and every callable must be importable and well-formed."""

import __spark_entry__ as entry


class TestEntryContract:
    def test_every_oracle_has_a_query(self):
        qs, oracles = entry.queries(), entry.oracle_sql()
        dangling = set(oracles) - set(qs)
        assert not dangling, f"oracles without queries: {sorted(dangling)}"

    def test_rows_only_queries_are_documented(self):
        """Queries without an oracle must say why in their docstring."""
        qs, oracles = entry.queries(), entry.oracle_sql()
        missing = []
        for name, fn in qs.items():
            if name in oracles:
                continue
            doc = (fn.__doc__ or "").lower()
            if not any(k in doc for k in ("rows-only", "no sql oracle",
                                          "composite")):
                missing.append(name)
        assert not missing, \
            f"rows-only queries lacking a rationale docstring: {missing}"

    def test_all_queries_callable_with_two_args(self):
        import inspect
        for name, fn in entry.queries().items():
            params = [p for p in inspect.signature(fn).parameters.values()
                      if p.default is inspect.Parameter.empty]
            assert len(params) == 2, f"{name} must take (spark, sf_dir)"

    def test_oracle_sql_is_nonempty_text(self):
        for name, sql in entry.oracle_sql().items():
            assert isinstance(sql, str) and len(sql.strip()) > 10, name

    def test_entry_exists(self):
        assert callable(entry.entry)

    def test_window_matches_mechanical_rule(self):
        """The in-code round-16 window must equal the mechanical
        recency rotation computed from the r1-r15 driver records
        (verdict r12 item 3: a pinned --round keeps this check green
        in-tree even after the fresh r16 driver record lands)."""
        import sys
        from pathlib import Path
        sys.path.insert(0, str(Path(__file__).parent.parent / "tools"))
        try:
            from gen_window import compute_window, WINDOW_SIZE
        finally:
            sys.path.pop(0)
        computed = compute_window(for_round=16)
        in_code = list(entry.queries())[:WINDOW_SIZE]
        assert computed == in_code

    def test_certification_table_from_any_directory(self, tmp_path,
                                                    monkeypatch, capsys):
        """The certification table reads the same records as the window
        tool, anchored at the repo root, whatever the working
        directory."""
        import runpy
        from pathlib import Path
        tool = Path(__file__).parent.parent / "tools" / \
            "gen_certification_table.py"
        monkeypatch.chdir(tmp_path)
        runpy.run_path(str(tool), run_name="__main__")
        last = capsys.readouterr().out.strip().splitlines()[-1]
        assert " 0 driver-certified" not in last, last

    def test_contract_digest(self):
        """Order, oracle text and bench lanes of every query, pinned:
        a reorder, an oracle edit or a lane move changes the digest
        (re-pin it only for an intentional contract change)."""
        import hashlib
        import json

        from contract.registry import REGISTRY
        oracles = entry.oracle_sql()
        lanes = {lane: sorted(s.name for s in REGISTRY if s.lane == lane)
                 for lane in ("headline", "extended")}
        assert {s.lane for s in REGISTRY} <= {"headline", "extended", None}
        assert (len(lanes["headline"]), len(lanes["extended"])) == (32, 71)
        blob = json.dumps({"order": [[n, oracles.get(n)]
                                     for n in entry.queries()], **lanes})
        assert hashlib.sha256(blob.encode()).hexdigest() == \
            "0af916b1301735a7640e368535880dd828324dbf2538e92e8bfeb73cd3fdccff"

    def test_no_query_name_lists_outside_the_registry(self):
        """Which queries exist, in what order and lane, is declared in
        contract/registry.py only: the entry module, the bench and the
        tools hold no literal collection of query names."""
        import ast
        from pathlib import Path
        root = Path(__file__).parent.parent
        names = set(entry.queries())
        files = [root / "__spark_entry__.py", root / "bench.py",
                 *sorted((root / "tools").glob("*.py"))]
        found = []
        for path in files:
            for node in ast.walk(ast.parse(path.read_text())):
                if isinstance(node, (ast.List, ast.Tuple, ast.Set)):
                    elts = node.elts
                elif isinstance(node, ast.Dict):
                    elts = node.keys
                else:
                    continue
                hits = [e.value for e in elts if isinstance(e, ast.Constant)
                        and e.value in names]
                if len(hits) >= 2:
                    found.append(f"{path.name}:{node.lineno} {hits[:3]}")
        assert not found, found

    def test_coverage_ledger_is_the_tool_output(self, capsys):
        """COVERAGE.md's certification table is exactly what
        tools/gen_certification_table.py prints (regenerate it with
        the tool, never by hand)."""
        import runpy
        from pathlib import Path
        root = Path(__file__).parent.parent
        runpy.run_path(str(root / "tools" / "gen_certification_table.py"),
                       run_name="__main__")
        text = (root / "COVERAGE.md").read_text()
        block = text.split("<!-- BEGIN CERT TABLE -->\n", 1)[1] \
            .split("<!-- END CERT TABLE -->", 1)[0]
        assert block == capsys.readouterr().out


class TestScratchDirs:
    """The streaming builders put their sources, checkpoints, state and
    outputs under one per-process root (``contract.common._scratch_dir``)
    that is removed at exit."""

    def test_one_mkdtemp_call(self):
        import re
        from pathlib import Path
        root = Path(__file__).parent.parent / "contract"
        hits = [f"{p.name}:{i}" for p in sorted(root.glob("*.py"))
                for i, line in enumerate(p.read_text().splitlines(), 1)
                if re.search(r"\bmkdtemp\(", line)]
        assert len(hits) == 2 and all(h.startswith("common.py:")
                                      for h in hits), hits

    def test_built_stream_leaves_nothing_outside_the_root(
            self, spark, tmp_path, monkeypatch):
        import os
        import tempfile

        from conftest import SF_DIR
        from contract import common
        from contract.streaming import q_stream_ann_index
        monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
        monkeypatch.setattr(common, "_SCRATCH", None)
        assert q_stream_ann_index(spark, SF_DIR).count() > 0
        root = common._SCRATCH
        assert os.listdir(tmp_path) == [os.path.basename(root)]
        made = os.listdir(root)
        assert len(made) == 3 and all(
            sum(d.startswith(f"ann_ingest_{kind}_") for d in made) == 1
            for kind in ("src", "state", "ckpt")), made
