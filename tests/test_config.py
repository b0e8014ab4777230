"""cortex.toml loading (reference config-file compatibility)."""

from __future__ import annotations

import functools

import pytest

from cortex_spark.config import load_config

EXAMPLE = """
[server]
grpc_addr = "0.0.0.0:9090"
data_dir = "./data"

[kinds]
allowed = ["fact", "decision", "goal", "custom-kind"]

[relations]
allowed = ["relates-to", "supersedes"]

[auto_linker]
enabled = true
similarity_threshold = 0.72
max_edges_per_node = 25

[embedding]
dimensions = 128

[briefing]
max_tokens = 2000

[[briefing.sections]]
name = "identity"
mode = "filter"
max_items = 5

[retention]
default_ttl_days = 0
grace_days = 14

[retention.by_kind]
observation = 90
decision = 0

[retention.max_nodes]
limit = 100000
strategy = "oldest_lowest_importance"

[write_gate]
enabled = true
conflict_threshold = 0.8
duplicate_threshold = 0.93
min_title_length = 12
min_body_length = 25

[schemas.decision]
required_fields = ["rationale"]

[schemas.decision.fields.priority]
type = "number"
min = 1.0
max = 5.0

[schemas.decision.fields.status]
type = "string"
allowed_values = ["proposed", "accepted", "rejected"]

[security]
encryption = true
"""


def test_load_example_config(tmp_path):
    p = tmp_path / "cortex.toml"
    p.write_text(EXAMPLE)
    cfg = load_config(str(p))
    assert cfg.linker.auto_link_threshold == 0.72
    assert cfg.linker.max_edges_per_node == 25
    assert cfg.linker.contradiction_threshold == 0.8
    assert cfg.linker.dedup_threshold == 0.93
    assert cfg.embed_dim == 128
    assert cfg.retention.default_ttl_days is None  # 0 = keep forever
    assert cfg.retention.grace_days == 14
    assert cfg.retention.ttl_days_by_kind == {"observation": 90}  # 0 dropped
    assert cfg.retention.max_nodes == 100000
    assert cfg.min_title_length == 12 and cfg.min_body_length == 25
    assert cfg.schemas["decision"].required_fields == ["rationale"]
    assert cfg.schemas["decision"].fields["priority"].max == 5.0
    assert cfg.schemas["decision"].fields["status"].allowed_values == ["proposed", "accepted", "rejected"]
    assert cfg.allowed_kinds == ["fact", "decision", "goal", "custom-kind"]
    assert cfg.encryption is True
    assert cfg.briefing_sections[0]["name"] == "identity"


def skip_if_file_absent(test):
    """Skip `test` when a file it opens does not exist: for inputs outside
    this repo (the reference checkout), which a checkout need not have."""

    @functools.wraps(test)
    def run(*args, **kwargs):
        try:
            return test(*args, **kwargs)
        except FileNotFoundError as e:
            pytest.skip(f"{e.filename} is absent: the reference checkout is optional")

    return run


@skip_if_file_absent
def test_reference_example_file_loads():
    cfg = load_config("/root/reference/cortex.example.toml")
    assert cfg.linker.auto_link_threshold == 0.75
    assert cfg.retention.ttl_days_by_kind == {"observation": 90, "event": 90}
    assert cfg.allowed_kinds and "fact" in cfg.allowed_kinds


def test_validation_errors(tmp_path):
    bad_kind = tmp_path / "bad.toml"
    bad_kind.write_text('[kinds]\nallowed = ["Fact"]\n')
    with pytest.raises(ValueError, match="invalid kind name"):
        load_config(str(bad_kind))

    bad_thresh = tmp_path / "thresh.toml"
    bad_thresh.write_text("[auto_linker]\nsimilarity_threshold = 0.95\n")
    with pytest.raises(ValueError, match="threshold invariant"):
        load_config(str(bad_thresh))

    # defaults when sections absent
    minimal = tmp_path / "min.toml"
    minimal.write_text("[server]\ndata_dir = './d'\n")
    cfg = load_config(str(minimal))
    assert cfg.linker.auto_link_threshold == 0.75
    assert cfg.retention.default_ttl_days is None
    assert cfg.allowed_kinds is None
