-- Deterministic synthetic VerA data, generated inside Postgres.
-- Placeholders, filled in by run.py: @seed@ (integer) and the row count of each table:
-- @n_code@, @n_contracts@, @n_deployments@, @n_compiled@, @n_ccs@, @n_sources@, @n_verified@.
-- Every value is a hash of (seed, table, row number, field), so the same seed
-- gives the same rows whatever plan Postgres picks. run.py runs the part
-- before the first "-- @table" line, then the table sections concurrently,
-- then the part after "-- @after".
\set ON_ERROR_STOP on
SET client_min_messages = warning;
DROP SCHEMA IF EXISTS vera CASCADE;
CREATE SCHEMA vera;

CREATE FUNCTION vera.k(salt text, n bigint, m bigint) RETURNS bigint
  LANGUAGE sql IMMUTABLE PARALLEL SAFE
  AS $$ SELECT abs(hashtextextended(salt || ':' || n, @seed@)) % m $$;
CREATE FUNCTION vera.h(salt text, n bigint) RETURNS bytea
  LANGUAGE sql IMMUTABLE PARALLEL SAFE
  AS $$ SELECT int8send(hashtextextended(salt || ':' || n, @seed@))
            || int8send(hashtextextended(salt || ':' || n, @seed@ + 1))
            || int8send(hashtextextended(salt || ':' || n, @seed@ + 2))
            || int8send(hashtextextended(salt || ':' || n, @seed@ + 3)) $$;
CREATE FUNCTION vera.u(salt text, n bigint) RETURNS uuid
  LANGUAGE sql IMMUTABLE PARALLEL SAFE
  AS $$ SELECT encode(substr(vera.h(salt, n), 1, 16), 'hex')::uuid $$;
CREATE FUNCTION vera.ts(salt text, n bigint) RETURNS timestamp
  LANGUAGE sql IMMUTABLE PARALLEL SAFE
  AS $$ SELECT timestamp '2022-01-01' + vera.k(salt, n, 86400 * 730) * interval '1 second'
                 + vera.k(salt || 'us', n, 1000000) * interval '1 microsecond' $$;

-- A 64 KiB pool of pseudo-random bytecode that rows slice from: rows share
-- byte runs, so they compress like real bytecode, and stay distinct.
CREATE TABLE vera.pool AS
SELECT string_agg(vera.h('pool', j), ''::bytea ORDER BY j) AS bytes
  FROM generate_series(1, 2048) j;

-- @table code
-- code: KB-scale bytecode.
CREATE TABLE vera.code (
  code_hash bytea PRIMARY KEY, code bytea, code_hash_keccak bytea,
  created_at timestamp, updated_at timestamp,
  created_by varchar, updated_by varchar);
INSERT INTO vera.code
SELECT vera.h('code', n),
       vera.h('code.head', n)
         || substr((SELECT bytes FROM vera.pool), 1 + vera.k('code.o1', n, 32768)::int,
                   1024 + vera.k('code.l1', n, 2048)::int)
         || vera.h('code.mid', n)
         || substr((SELECT bytes FROM vera.pool), 1 + vera.k('code.o2', n, 32768)::int,
                   512 + vera.k('code.l2', n, 2048)::int),
       vera.h('code.keccak', n), vera.ts('code.c', n), vera.ts('code.u', n),
       'importer', CASE WHEN n % 7 = 0 THEN NULL ELSE 'importer' END
  FROM generate_series(1, @n_code@) n;

-- @table contracts
CREATE TABLE vera.contracts (
  id uuid PRIMARY KEY, creation_code_hash bytea, runtime_code_hash bytea,
  created_at timestamp, updated_at timestamp,
  created_by varchar, updated_by varchar);
INSERT INTO vera.contracts
SELECT vera.u('contract', n), vera.h('code', 1 + vera.k('cc', n, @n_code@)),
       vera.h('code', 1 + vera.k('rc', n, @n_code@)),
       vera.ts('contract.c', n), vera.ts('contract.u', n), 'importer', 'importer'
  FROM generate_series(1, @n_contracts@) n;

-- @table contract_deployments
CREATE TABLE vera.contract_deployments (
  id uuid PRIMARY KEY, chain_id bigint, address bytea, transaction_hash bytea,
  block_number bigint, transaction_index integer, deployer bytea,
  contract_id uuid, created_at timestamp, updated_at timestamp,
  created_by varchar, updated_by varchar);
INSERT INTO vera.contract_deployments
SELECT vera.u('deployment', n),
       (ARRAY[1, 10, 137, 8453, 42161])[1 + vera.k('chain', n, 5)],
       substr(vera.h('address', n), 1, 20), vera.h('tx', n),
       n * 64 + vera.k('block', n, 64), vera.k('txi', n, 300)::int,
       substr(vera.h('deployer', vera.k('dep', n, 5000)), 1, 20),
       vera.u('contract', 1 + vera.k('dc', n, @n_contracts@)),
       vera.ts('deployment.c', n), vera.ts('deployment.u', n), 'importer', 'importer'
  FROM generate_series(1, @n_deployments@) n;

-- @table compiled_contracts
-- compiled_contracts: KB-scale json artifacts (the VerA wide-row table).
CREATE TABLE vera.compiled_contracts (
  id uuid PRIMARY KEY, created_at timestamp, updated_at timestamp,
  created_by varchar, updated_by varchar, compiler varchar, version varchar,
  language varchar, name varchar, fully_qualified_name varchar,
  compiler_settings json, compilation_artifacts json,
  creation_code_hash bytea, creation_code_artifacts json,
  runtime_code_hash bytea, runtime_code_artifacts json);
INSERT INTO vera.compiled_contracts
SELECT vera.u('compiled', n), vera.ts('compiled.c', n), vera.ts('compiled.u', n),
       'importer', 'importer', 'solc', '0.8.' || vera.k('ver', n, 27),
       'Solidity', 'C' || encode(substr(vera.h('name', n), 1, 4), 'hex'),
       'contracts/C' || encode(substr(vera.h('name', n), 1, 4), 'hex') || '.sol:C'
         || encode(substr(vera.h('name', n), 1, 4), 'hex'),
       ('{"optimizer": {"enabled": ' || (n % 2 = 0) || ', "runs": '
         || (200 * (1 + vera.k('runs', n, 5))) || '}, "evmVersion": "paris", '
         || '"outputSelection": {"*": {"*": ["abi", "evm.bytecode"]}}}')::json,
       ('{"abi": [' || (SELECT string_agg('{"type": "function", "name": "f'
           || encode(substr(vera.h('fn', n * 100 + j), 1, 6), 'hex')
           || '", "inputs": [{"name": "a", "type": "uint256"}], "outputs": [], '
           || '"stateMutability": "nonpayable"}', ', ' ORDER BY j)
           FROM generate_series(1, 8 + vera.k('nfn', n, 24)::int) j)
         || '], "userdoc": {}, "devdoc": {"kind": "dev", "version": 1}}')::json,
       vera.h('code', 1 + vera.k('ccc', n, @n_code@)),
       ('{"sourceMap": "' || (SELECT string_agg(j || ':' || vera.k('sm', n * 1000 + j, 900)
           || ':0:-:0', ';' ORDER BY j) FROM generate_series(1, 60) j)
         || '", "linkReferences": {}, "cborAuxdata": {"1": {"offset": '
         || vera.k('cbor', n, 20000) || '}}}')::json,
       vera.h('code', 1 + vera.k('crc', n, @n_code@)),
       ('{"immutableReferences": {}, "sourceMap": "' || (SELECT string_agg(j || ':'
           || vera.k('rsm', n * 1000 + j, 900) || ':0:-:0', ';' ORDER BY j)
           FROM generate_series(1, 60) j) || '"}')::json
  FROM generate_series(1, @n_compiled@) n;

-- @table compiled_contracts_sources
CREATE TABLE vera.compiled_contracts_sources (
  id uuid PRIMARY KEY, compilation_id uuid, source_hash bytea, path varchar);
INSERT INTO vera.compiled_contracts_sources
SELECT vera.u('ccs', n), vera.u('compiled', 1 + vera.k('ccs.c', n, @n_compiled@)),
       vera.h('source', 1 + vera.k('ccs.s', n, @n_sources@)),
       'contracts/' || encode(substr(vera.h('path', n), 1, 6), 'hex') || '.sol'
  FROM generate_series(1, @n_ccs@) n;

-- sources: KB-scale Solidity text, with tabs, newlines, backslashes and
-- @table sources
-- non-ASCII so the COPY text escapes are exercised.
CREATE TABLE vera.sources (
  source_hash bytea PRIMARY KEY, source_hash_keccak bytea, content varchar,
  created_at timestamp, updated_at timestamp,
  created_by varchar, updated_by varchar);
INSERT INTO vera.sources
SELECT vera.h('source', n), vera.h('source.keccak', n),
       E'// SPDX-License-Identifier: MIT\npragma solidity ^0.8.' || vera.k('pv', n, 27)
         || E';\n/// @notice café \\ path\tcheck\ncontract S' || n || E' {\n'
         || (SELECT string_agg(E'\tfunction f' || encode(substr(vera.h('sfn', n * 100 + j), 1, 8), 'hex')
               || '(uint256 x) public pure returns (uint256) { return x * '
               || vera.k('mul', n * 100 + j, 1000) || E'; }\n', '' ORDER BY j)
             FROM generate_series(1, 12 + vera.k('nsf', n, 40)::int) j)
         || '}',
       vera.ts('source.c', n), vera.ts('source.u', n), 'importer', 'importer'
  FROM generate_series(1, @n_sources@) n;

-- @table verified_contracts
CREATE TABLE vera.verified_contracts (
  id bigint PRIMARY KEY, created_at timestamp, updated_at timestamp,
  created_by varchar, updated_by varchar, deployment_id uuid, compilation_id uuid,
  creation_match boolean, creation_values json, creation_transformations json,
  runtime_match boolean, runtime_values json, runtime_transformations json,
  runtime_metadata_match boolean, creation_metadata_match boolean);
INSERT INTO vera.verified_contracts
SELECT n, vera.ts('verified.c', n), vera.ts('verified.u', n), 'importer', 'importer',
       vera.u('deployment', 1 + vera.k('vd', n, @n_deployments@)),
       vera.u('compiled', 1 + vera.k('vc', n, @n_compiled@)),
       n % 5 <> 0, CASE WHEN n % 3 = 0 THEN NULL ELSE '{"constructorArguments": "0x'
         || encode(substr(vera.h('args', n), 1, 8), 'hex') || '"}' END::json,
       CASE WHEN n % 3 = 0 THEN NULL ELSE '[{"type": "insert", "offset": '
         || vera.k('off', n, 9000) || '}]' END::json,
       n % 7 <> 0, '{"cborAuxdata": {"1": "0xa264"}}'::json, '[]'::json,
       n % 11 <> 0, n % 13 <> 0
  FROM generate_series(1, @n_verified@) n;

-- @after
DROP TABLE vera.pool;
ANALYZE;
