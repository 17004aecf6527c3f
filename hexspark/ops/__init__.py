"""Training-data-pipeline operators over document/embedding tables:
deduplication families (exact, MinHash/SimHash near-dup,
span-level exact-substring), similarity search (brute force, LSH, IVF)
and an exact product-quantization code table, text analysis and quality
(features, Gopher repetition filters, bigram- and KN-trigram-LM
perplexity), corpus hygiene (PII scrub, mixture sampling), match-graph
analytics (triangles, bridges, LPA), sketches, skew-aware joins, and
multimodal column plumbing. All batch DataFrame programs
(the stateless ones run unchanged on streams); UDFs only where built-in
functions can't express the semantics (and then Arrow-vectorized)."""
