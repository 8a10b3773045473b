"""Filter semantics (scraper_test.go:139-373) and config load/merge
(scraper_test.go:1240-1450) parity tests."""

import os
from datetime import datetime, timezone

import pytest

from goskyr_spark.config import (
    ConfigError,
    Field,
    FilterConfig,
    Scraper,
    load_config,
)
from goskyr_spark.kernels.filters import filter_item, initialize_filters
from goskyr_spark.kernels.gocompat import GoskyrError

UTC = timezone.utc


def _scraper(fields, filters):
    return Scraper(fields=fields, filters=filters)


FILTER_CASES = {
    "match true filter true": (
        {"title": "Jacob Collier - Concert"},
        _scraper([Field(name="title")],
                 [FilterConfig(field="title", exp=".*Concert", match=True)]),
        True, None),
    "match false filter false": (
        {"title": "Jacob Collier - Cancelled"},
        _scraper([Field(name="title")],
                 [FilterConfig(field="title", exp=".*Cancelled", match=False)]),
        False, None),
    "date match true filter true": (
        {"date": datetime(2023, 10, 20, 19, 1, tzinfo=UTC)},
        _scraper([Field(name="date", type="date")],
                 [FilterConfig(field="date", exp="> 2023-10-20T19:00",
                               match=True)]),
        True, None),
    "date match true filter false": (
        {"date": datetime(2023, 10, 20, 19, 0, tzinfo=UTC)},
        _scraper([Field(name="date", type="date")],
                 [FilterConfig(field="date", exp="> 2023-10-20T19:00",
                               match=True)]),
        False, None),
    "date match false filter false": (
        {"date": datetime(2023, 10, 20, 19, 1, tzinfo=UTC)},
        _scraper([Field(name="date", type="date")],
                 [FilterConfig(field="date", exp="> 2023-10-20T19:00",
                               match=False)]),
        False, None),
    "date match false filter false lt": (
        {"date": datetime(2023, 10, 20, 18, 59, tzinfo=UTC)},
        _scraper([Field(name="date", type="date")],
                 [FilterConfig(field="date", exp="< 2023-10-20T19:00",
                               match=False)]),
        False, None),
    "date match false filter false now": (
        {"date": datetime(2023, 10, 20, 18, 59, tzinfo=UTC)},
        _scraper([Field(name="date", type="date")],
                 [FilterConfig(field="date", exp="< now", match=False)]),
        False, None),
    "field not found": (
        {},
        _scraper([], [FilterConfig(field="title", exp=".*Concert",
                                   match=True)]),
        None,
        "filter error. There is no field with the name 'title'"),
    "date expression error": (
        {},
        _scraper([Field(name="date", type="date")],
                 [FilterConfig(field="date",
                               exp="not a valid date filter expression",
                               match=False)]),
        None,
        "the expression for filtering by date should be of the following "
        "format: '<|> now|YYYY-MM-ddTHH:mm'"),
    "date expression error eq": (
        {},
        _scraper([Field(name="date", type="date")],
                 [FilterConfig(field="date", exp="= 2023-10-20T19:00",
                               match=False)]),
        None,
        "the expression for filtering by date should be of the following "
        "format: '<|> now|YYYY-MM-ddTHH:mm'"),
    "date expression wrong date format": (
        {},
        _scraper([Field(name="date", type="date")],
                 [FilterConfig(field="date", exp="> 2023-10-20",
                               match=False)]),
        None,
        "the expression for filtering by date should be of the following "
        "format: '<|> now|YYYY-MM-ddTHH:mm'"),
}


@pytest.mark.parametrize("name", sorted(FILTER_CASES))
def test_filters(name):
    item, scraper, want, err = FILTER_CASES[name]
    if err is not None:
        with pytest.raises(GoskyrError) as ei:
            initialize_filters(scraper)
        assert str(ei.value) == err
        return
    filters = initialize_filters(scraper)
    assert filter_item(filters, item) is want


# --- partial-item fast path (scraper.go:541-549) -------------------------------

def test_filter_partial_item_only_match_false_rejects():
    scraper = _scraper(
        [Field(name="a"), Field(name="b")],
        [FilterConfig(field="a", exp="keep.*", match=True),
         FilterConfig(field="b", exp=".*bad", match=False)])
    filters = initialize_filters(scraper)
    # partial item missing 'b': match:true not satisfied but partial rule
    # only honors match:false ⇒ keep-candidate
    assert filter_item(filters, {"a": "nope"}) is True
    # partial item with a match:false hit ⇒ definitely drop
    assert filter_item(filters, {"b": "this is bad"}) is False
    # full item: needs the match:true to hit
    assert filter_item(filters, {"a": "nope", "b": "fine"}) is False
    assert filter_item(filters, {"a": "keep it", "b": "fine"}) is True


# --- config load/merge (scraper_test.go:1240-1450) ------------------------------

def test_single_file_config(tmp_path):
    p = tmp_path / "config.yml"
    p.write_text("""
writer:
  type: stdout
scrapers:
  - name: test
    url: https://example.com
    item: .item
global:
  user_agent: TestAgent
""")
    cfg = load_config(str(p))
    assert cfg.writer.type == "stdout"
    assert len(cfg.scrapers) == 1
    assert cfg.global_.user_agent == "TestAgent"
    assert cfg.scrapers[0].fetcher.user_agent == "TestAgent"


def test_directory_merge(tmp_path):
    (tmp_path / "config1.yml").write_text("""
scrapers:
  - name: test1
    url: https://example.com
    item: .item
""")
    (tmp_path / "config2.yml").write_text("""
scrapers:
  - name: test2
    url: https://example2.com
    item: .item2
writer:
  type: stdout
""")
    cfg = load_config(str(tmp_path))
    assert len(cfg.scrapers) == 2
    assert cfg.writer.type == "stdout"


def test_default_writer(tmp_path):
    p = tmp_path / "config.yml"
    p.write_text("""
scrapers:
  - name: test
    url: https://example.com
    item: .item
""")
    cfg = load_config(str(p))
    assert cfg.writer.type == "stdout"


def test_global_propagation(tmp_path):
    p = tmp_path / "config.yml"
    p.write_text("""
global:
  user_agent: CustomAgent
  debug_dir: /tmp/debug
scrapers:
  - name: test
    url: https://example.com
    item: .item
""")
    cfg = load_config(str(p))
    assert cfg.scrapers[0].fetcher.user_agent == "CustomAgent"
    assert cfg.scrapers[0].fetcher.debug_dir == "/tmp/debug"


def test_multiple_writers_error(tmp_path):
    (tmp_path / "config1.yml").write_text("writer:\n  type: stdout\n")
    (tmp_path / "config2.yml").write_text("writer:\n  type: csv\n")
    with pytest.raises(ConfigError):
        load_config(str(tmp_path))


def test_multiple_globals_error(tmp_path):
    (tmp_path / "config1.yml").write_text("global:\n  user_agent: A\n")
    (tmp_path / "config2.yml").write_text("global:\n  user_agent: B\n")
    with pytest.raises(ConfigError):
        load_config(str(tmp_path))


def test_nonexistent_path_error():
    with pytest.raises(ConfigError):
        load_config("/nonexistent/path/config.yml")


def _inline_yaml_configs():
    """Every YAML config literal in the package (host templates filled
    in), keyed by file:line."""
    import ast
    import pathlib

    import goskyr_spark
    from goskyr_spark.synth import EVENT_SCRAPER_SUBPAGE_YAML

    root = pathlib.Path(goskyr_spark.__file__).parent
    out = {}
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and "\nscrapers:\n" in node.value):
                out[f"{path.name}:{node.lineno}"] = node.value
    out["synth.EVENT_SCRAPER_SUBPAGE_YAML"] = EVENT_SCRAPER_SUBPAGE_YAML
    return {k: v.format(host="host0001.test") if "{host}" in v else v
            for k, v in out.items()}


def test_libyaml_loader_matches_safe_loader():
    """The C loader the config parser prefers builds exactly what the
    pure-Python SafeLoader builds, for every inline config in the
    package."""
    import yaml

    from goskyr_spark import config
    from goskyr_spark.config import ScraperConfig

    if not yaml.__with_libyaml__:
        assert config._YAML_LOADER is yaml.SafeLoader
        pytest.skip("PyYAML built without libyaml")
    assert config._YAML_LOADER is yaml.CSafeLoader
    configs = _inline_yaml_configs()
    assert len(configs) >= 10
    for where, text in configs.items():
        py = yaml.load(text, Loader=yaml.SafeLoader)
        c = yaml.load(text, Loader=yaml.CSafeLoader)
        assert c == py, where
        assert ScraperConfig.from_dict(c) == ScraperConfig.from_dict(py), \
            where
