"""Pure-Python RDFa extraction kernel (no Spark dependency)."""

from .extractor import RdfaExtractor
from .html_driver import HtmlParseListener, parse_rdfa
from .terms import BlankNode, Literal, NamedNode

__all__ = ["RdfaExtractor", "parse_rdfa", "HtmlParseListener",
           "NamedNode", "BlankNode", "Literal"]
