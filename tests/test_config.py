"""Configuration guards: every CrawlConfig knob is read by the engine, and
the session's default memory is sized from the machine (pure Python, no
Spark session)."""

import ast
import dataclasses
import os

from web_scraper_spark.config import CrawlConfig
from web_scraper_spark.session import default_memory_mb

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "web_scraper_spark")


def _attributes_read_in_package() -> set[str]:
    """Names of every attribute the package reads (`x.name`), outside
    config.py where the fields are declared."""
    names: set[str] = set()
    for dirpath, _, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py") or os.path.join(dirpath, fn) == os.path.join(PKG, "config.py"):
                continue
            with open(os.path.join(dirpath, fn)) as f:
                tree = ast.parse(f.read())
            names |= {
                n.attr for n in ast.walk(tree)
                if isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load)
            }
    return names


def test_every_crawl_config_field_is_read():
    """A knob nothing reads is a promise the engine does not keep."""
    read = _attributes_read_in_package()
    dead = [f.name for f in dataclasses.fields(CrawlConfig) if f.name not in read]
    assert not dead, f"CrawlConfig fields never read in web_scraper_spark/: {dead}"


def test_default_memory_small_box():
    """15 GB: half for the heap, 15% off-heap — the JVM fits the box."""
    assert default_memory_mb(15 << 30) == (7680, 2304)


def test_default_memory_big_box_keeps_caps():
    """256 GB: the 48g heap / 16g off-heap caps, unchanged from before."""
    assert default_memory_mb(256 << 30) == (48 << 10, 16 << 10)
